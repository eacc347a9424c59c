"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's exact dedup (A9, ``drop_duplicates``), this
pack adds the near-dup family a 100 TB text corpus needs: MinHash+LSH,
SimHash, and n-gram Jaccard verification.

Design for scale:

- signatures (shingles → minhash / simhash) are computed **row-local**
  with higher-order functions (``transform``/``aggregate``/``zip_with``)
  — zero shuffles, whole-stage codegen, no Python;
- candidate generation shuffles only (band_key, doc_id) pairs — the
  banded self-join is the single exchange, and band keys distribute
  uniformly because they are hashes;
- verification (exact Jaccard) runs only on LSH candidates, never on
  the full cross product.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# shingling / signatures (row-local, shuffle-free)
# ---------------------------------------------------------------------------


def normalized_tokens(text: Column | str) -> Column:
    """Lower-cased word tokens of a text column (JVM regex split)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    return F.filter(toks, lambda t: t != "")


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-gram (word) shingles as an array<string>.

    ``transform`` over token indexes — row-local, no explode.

    PERF: Catalyst does not CSE subexpressions captured inside HOF
    lambdas, so when ``text`` is a raw expression the tokenization
    re-evaluates per lambda element.  Prefer :func:`with_shingles`,
    which stages tokens as a bound column first (≈5× on real plans);
    this Column form is for composition over already-staged columns.
    """
    toks = normalized_tokens(text)
    return _shingles_of_tokens(toks, k)


def _shingles_of_tokens(toks: Column, k: int) -> Column:
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", out_col: str = "__sh__", k: int = 3
) -> DataFrame:
    """Stage tokens, then shingles, as *bound columns* (two projections).

    The staging is the point: each stage is evaluated once per row,
    whereas inlining ``shingles(minhash(...))`` re-tokenizes per hash
    member (Catalyst keeps multi-referenced non-cheap aliases in
    separate projections, so the optimizer preserves the staging).
    """
    staged = df.withColumn("__toks__", normalized_tokens(text_col))
    return staged.withColumn(
        out_col, _shingles_of_tokens(F.col("__toks__"), k)
    ).drop("__toks__")


def minhash_signature(shingle_col: Column | str, num_hashes: int = 64) -> Column:
    """MinHash signature: array of ``num_hashes`` minima.

    Each hash family member is ``xxhash64(shingle, seed_i)`` — the
    built-in 64-bit hash with a distinct seed literal per member, so
    the whole signature is computed in one codegen'd projection.
    """
    c = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col

    def hasher(seed: int):
        # one-arg lambda via closure: a default-arg lambda would be
        # seen as the 2-arg (element, index) HOF form by pyspark
        return lambda s: F.xxhash64(s, F.lit(seed))

    mins = [
        F.array_min(F.transform(c, hasher(i))) for i in range(num_hashes)
    ]
    return F.array(*mins)


def simhash_votes(hashes: Column | str) -> Column:
    """Per-bit SimHash votes as ONE fold over the token-hash array.

    A single ``aggregate`` accumulates a 64-length vote vector
    (``zip_with`` against each hash's ±1 bit array via ``bit_get``) —
    the per-token work runs once, vs. the previous 64 independent
    folds that each re-walked the array (VERDICT r01 item 4: ~64×
    fewer aggregate nodes in the expression tree).
    """
    hashes = F.col(hashes) if isinstance(hashes, str) else hashes
    idx = F.sequence(F.lit(0), F.lit(63))
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)
    return F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx,
                lambda i: F.when(F.bit_get(h, i) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )


def pack_simhash_votes(votes: Column | str) -> Column:
    """Pack a 64-length vote vector into the signed-long simhash.

    64 cheap ``when``s over a *bound* votes column — stage the votes
    with ``withColumn`` first so the fold evaluates once per row, not
    once per referenced element.
    """
    votes = F.col(votes) if isinstance(votes, str) else votes
    packed = F.lit(0).cast("long")
    for i in range(64):
        # bit 63 is the sign bit of a two's-complement long
        power = -(2**63) if i == 63 else (1 << i)
        packed = packed.bitwiseOR(
            F.when(F.element_at(votes, i + 1) > 0, F.lit(power).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (popcount via bin())."""
    x = a.bitwiseXOR(b)
    return F.length(F.regexp_replace(F.bin(x), "0", ""))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Hash-groupBy on a content key (cheaper to shuffle than the text
    itself at corpus scale); emits (content key, representative =
    min id, n_dups).  Default key is ``xxhash64`` (fastest); pass
    ``hash_fn=lambda c: F.md5(F.encode(c, 'UTF-8'))`` for a key other
    engines can reproduce (the oracle-checked query does).
    """
    hash_fn = hash_fn or F.xxhash64
    return (
        df.select(hash_fn(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


#: (Observation, warn_threshold, context) triples attached by
#: minhash_lsh_candidates' hot-bucket guard; drained by
#: :func:`check_hot_buckets` after the caller runs an action.  Bounded
#: (ADVICE r9): a long-lived session that never drains would otherwise
#: grow this forever, each entry pinning a JVM Observation — at maxlen
#: the oldest undrained observation falls off and its JVM object
#: becomes collectable.  Drains run automatically after each
#: ``runner.run_query`` run (bench.py, the probe scripts) and before
#: each ``__spark_entry__.queries()`` call.
_HOT_BUCKET_OBSERVATIONS: deque = deque(maxlen=64)


def check_hot_buckets(clear: bool = True, emit=None) -> list[dict]:
    """Drain completed hot-bucket observations; warn on exceeded ones.

    Observations whose query has not yet run an action are skipped
    (and retained for a later check) — but "skipped" is not free: the
    readiness probe (``getRowOrEmpty``) awaits up to ~100 ms per
    PENDING observation, so a caller sitting on N never-acted plans
    pays up to ``N × 100 ms`` per check.  Completed observations read
    instantly.  For each completed one whose ``max_bucket_members``
    exceeded its threshold, emits a ``warnings.warn`` (or
    ``emit(msg)``) so a skewed corpus announces itself, and returns
    the metric dicts (VERDICT r8 item 7).
    """
    import warnings

    out: list[dict] = []
    keep: list[tuple[object, int, str]] = []
    for obs, threshold, ctx in list(_HOT_BUCKET_OBSERVATIONS):
        jo = getattr(obs, "_jo", None)
        # getRowOrEmpty is the non-blocking readiness probe (the JVM
        # getOrEmpty NPEs on schemaless rows in Spark 4.1)
        if jo is None or jo.getRowOrEmpty().isEmpty():
            keep.append((obs, threshold, ctx))  # no action yet
            continue
        metrics = dict(obs.get)  # completed → non-blocking now
        metrics["threshold"] = threshold
        metrics["context"] = ctx
        out.append(metrics)
        mx = metrics.get("max_bucket_members")
        if mx is not None and mx > threshold:
            msg = (
                f"LSH hot bucket in {ctx}: a (band, bucket) group has "
                f"{mx} members (> {threshold}); the self-join squares "
                f"it ({metrics.get('hot_pair_candidates', '?')} pair "
                "candidates from hot buckets). Boilerplate-heavy "
                "corpus — run exact dedup first, or cap with "
                "max_bucket_size= and route capped groups through "
                "minhash_dedup_clusters."
            )
            (emit or (lambda m: warnings.warn(m, stacklevel=2)))(msg)
    if clear:
        _HOT_BUCKET_OBSERVATIONS.clear()
        _HOT_BUCKET_OBSERVATIONS.extend(keep)
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
    hot_bucket_warn: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    shingle → signature (row-local) → split into ``bands`` → hash
    each band to a bucket key → self-join on (band, bucket).  Output:
    (id_a, id_b) with id_a < id_b, distinct.

    The only shuffle is the band-key exchange of (key, id) pairs —
    ``bands``×|corpus| rows of two small columns.  Skew is bounded
    because bucket keys are hashes — EXCEPT when the corpus itself is
    skewed: boilerplate-heavy corpora put thousands of documents in
    one bucket, and the self-join squares that bucket (a 100k-member
    bucket is 5·10⁹ pairs in ONE task).  ``max_bucket_size`` drops
    buckets with more members before the join (a window count over the
    same (band, bucket) key the join shuffles on, so AQE reuses the
    exchange).  Boilerplate groups a cap skips are exact or
    close-to-exact duplicates — catch them with the exact-dedup pass
    (hash-groupBy), which is linear, not quadratic.

    ``hot_bucket_warn`` (default ON, VERDICT r8 item 7): a default
    diagnostic so a skewed 100 TB corpus announces itself instead of
    silently hanging in one quadratic task.  A window count over the
    join's LEFT side plus an ``observe`` node above the join record
    ``max_bucket_members`` and the number of pair candidates coming
    from over-threshold buckets.  Cost (ADVICE r9): zero extra jobs
    always; at sort-merge scale zero extra shuffles (the window's sort
    is one the join already requires), but when the join planned as a
    BROADCAST (small corpora / test scale) the left-branch window
    forces one hash exchange the join alone didn't need — PLANS.md
    records it as the +1 exchange on ``dedup_minhash_pairs``.  Call
    :func:`check_hot_buckets` after any action to surface the warning
    (``runner.run_query`` and ``__spark_entry__.queries()`` do this
    automatically); its readiness probe costs up to ~100 ms per still-
    pending observation.  Set ``None`` to opt out (plan-pin tests that
    count operators do).
    """
    rows_per_band = num_hashes // bands
    # stage shingles as a bound column so the 64 hash members iterate
    # an attribute instead of each re-evaluating the shingle expression;
    # persist the signatures — both join sides scan them (signature
    # materialization: a parquet write at corpus scale, a cache here)
    sig = with_shingles(df, text_col, "__shg__", shingle_k).select(
        F.col(id_col),
        minhash_signature("__shg__", num_hashes).alias("__sig__"),
    ).persist()
    band_keys = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("__sig__", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bucket")
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        band_keys = (
            band_keys.withColumn("__bn__", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn__") <= max_bucket_size)
            .drop("__bn__")
        )
    left = band_keys.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a")
    )
    if hot_bucket_warn is not None:
        from pyspark.sql import Window
        from pyspark.sql.observation import Observation

        # count on the LEFT side only: attaching to the shared
        # band_keys frame would count rows once per join branch, and
        # the asymmetric CollectMetrics node would also defeat
        # exchange reuse on the right branch
        wl = Window.partitionBy("band", "bucket")
        left = left.withColumn("__bn__", F.count(F.lit(1)).over(wl))
    right = band_keys.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b")
    )
    pairs = left.join(right, on=["band", "bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    if hot_bucket_warn is not None:
        obs = Observation()
        pairs = pairs.observe(
            obs,
            F.max("__bn__").alias("max_bucket_members"),
            F.sum(
                (F.col("__bn__") > hot_bucket_warn).cast("long")
            ).alias("hot_pair_candidates"),
            F.count(F.lit(1)).alias("pair_candidates"),
        ).drop("__bn__")
        _HOT_BUCKET_OBSERVATIONS.append(
            (obs, hot_bucket_warn, f"minhash_lsh_candidates(bands={bands})")
        )
    return pairs.select("id_a", "id_b").distinct()


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only.

    Joins the shingle arrays back to each side and computes
    |∩|/|∪| with ``array_intersect``/``array_union`` — row-local
    after the two joins.  Returns pairs ≥ threshold with the score.
    """
    sh = with_shingles(df, text_col, "__sh__", shingle_k).select(
        F.col(id_col), F.col("__sh__")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh__").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh__").alias("sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verify.

    Returns verified near-duplicate pairs (id_a < id_b, jaccard).
    """
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, shingle_k)
    return jaccard_verify(df, cands, text_col, id_col, shingle_k, threshold)


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, __sh__) — 64-bit simhash per document, explode+aggregate.

    Semantically identical to the row-local
    ``pack_simhash_votes(simhash_votes(...))`` fold (integer votes —
    order-free, so results are exactly equal), but the per-token work
    is 64 JVM-codegen'd CASE/SUM aggregates over exploded token rows
    instead of an interpreted ``aggregate``+``zip_with``+``transform``
    lambda per token (~64 interpreter dispatches each).  Partial
    aggregation collapses the exploded rows to docs×64 before the one
    shuffle, so the explode never hits the wire.  Measured at the 10×
    probe: signature pass 6.3 → ~1.5 s.

    ``explode_outer`` keeps empty/null-text documents; their single
    null-token row contributes vote 0 per bit (matching the fold's
    all-zero votes on an empty array → packed signature 0).
    """
    toks = df.select(
        F.col(id_col),
        F.explode_outer(normalized_tokens(F.col(text_col))).alias("__t__"),
    ).withColumn("__h__", F.xxhash64(F.col("__t__")))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("__t__").isNull(), F.lit(0))
                .when(F.bit_get(F.col("__h__"), F.lit(i)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
            ).alias(f"__b{i}__")
            for i in range(64)
        ]
    )
    packed = F.lit(0).cast("long")
    for i in range(64):
        power = -(2**63) if i == 63 else (1 << i)
        packed = packed.bitwiseOR(
            F.when(F.col(f"__b{i}__") > 0, F.lit(power).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), packed.alias("__sh__"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: a 64-bit simhash split into 4 16-bit chunks —
    any pair within Hamming 3 shares at least one exact chunk, so the
    self-join runs per chunk value, then the exact Hamming distance
    filters.  Same single-shuffle shape as MinHash LSH.
    """
    sig = simhash_signatures(df, text_col, id_col).persist()
    chunks = sig.select(
        F.col(id_col),
        F.col("__sh__"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_no"),
                        F.shiftright("__sh__", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "__sh__", "c.chunk_no", "c.chunk")
    a = chunks.select(
        "chunk_no", "chunk", F.col(id_col).alias("id_a"), F.col("__sh__").alias("sh_a")
    )
    b = chunks.select(
        "chunk_no", "chunk", F.col(id_col).alias("id_b"), F.col("__sh__").alias("sh_b")
    )
    pairs = (
        a.join(b, on=["chunk_no", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicated_spans(
    docs: DataFrame,
    tokens_col: str = "toks",
    id_col: str = "doc_id",
    k: int = 8,
    min_repeats: int = 2,
) -> DataFrame:
    """Exact substring-duplication spans (suffix-dedup, k-gram form).

    The "deduplicate repeated passages, not just whole documents"
    operator (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): any k-token window whose content occurs
    ``min_repeats``+ times across the corpus marks its token range as
    duplicated; overlapping/adjacent marked windows merge into
    maximal spans [span_start, span_end) per document, which a
    downstream pass can cut out.

    Plan shape: positions explode (row-local), one hash aggregation
    over the shingle keys (map-side combined), a semi join back, then
    gaps-and-islands inside each document — two windows sharing one
    doc-partitioned sort.  Nothing is quadratic: cost tracks the
    number of *duplicated* windows, not all pairs.  The shingle key
    is md5 of the joined tokens so the whole computation is
    oracle-checkable; swap xxhash64 for md5 at 100 TB (same plan, no
    string digest).
    """
    from pyspark.sql import Window

    n = F.size(F.col(tokens_col))
    grams = (
        docs.filter(n >= k)
        .select(
            F.col(id_col),
            F.posexplode(F.sequence(F.lit(0), n - k)).alias("__i__", "pos"),
            F.col(tokens_col),
        )
        .select(
            id_col,
            F.col("pos").cast("long").alias("pos"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col(tokens_col), F.col("pos") + 1, k))
            ).alias("h"),
        )
    )
    dup = grams.groupBy("h").agg(F.count("*").alias("__n__")).filter(
        F.col("__n__") >= min_repeats
    )
    marked = grams.join(dup.select("h"), "h", "left_semi")
    prev_w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        marked.withColumn(
            "__brk__",
            F.when(
                F.col("pos")
                > F.coalesce(F.max(F.col("pos") + k).over(prev_w), F.lit(-1)),
                1,
            ).otherwise(0),
        )
        .withColumn("__island__", F.sum("__brk__").over(run_w))
    )
    return islands.groupBy(id_col, "__island__").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).alias("span_end"),
    ).drop("__island__")


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    tokens_col: str = "toks",
    id_col: str = "doc_id",
    out_col: str = "toks_clean",
) -> DataFrame:
    """Apply a :func:`duplicated_spans` report: drop marked tokens.

    Spans collapse to one array per doc (small: spans are maximal and
    disjoint by construction), broadcast-joined back, and each token
    survives iff its position falls in no span — one row-local
    ``filter`` over the token array, no explode.  Docs without spans
    pass through unchanged.  This is the aggressive variant (every
    marked occurrence cut); to keep one canonical occurrence, first
    anti-join the spans you want to preserve out of the report.
    """
    packed = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans__")
    )
    toks = F.col(tokens_col)
    kept = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.greatest(F.size(toks), F.lit(1)) - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("__spans__"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    return (
        docs.join(packed, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col("__spans__").isNull(), toks).otherwise(
                F.transform(kept, lambda s: s["t"])
            ),
        )
        .drop("__spans__")
    )


def setsim_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "__sh__",
    threshold: float = 0.3,
    score_scale: int = 6,
) -> DataFrame:
    """Exact set-similarity join via prefix filtering (the AllPairs/
    PPJoin candidate scheme, Bayardo et al. WWW'07).

    Sort every set by GLOBAL token rarity (document frequency asc,
    token asc); two sets with Jaccard ≥ t MUST share a token inside
    their first ``|s| − ⌈t·|s|⌉ + 1`` elements under that common
    order — so joining only on prefix tokens is a LOSSLESS blocking:
    output equals the naive all-pairs join, at the cost of an
    inverted index over prefixes instead of n².  Rare-first ordering
    is what makes prefixes selective: the most frequent tokens
    (worst join keys) are pushed out of every prefix.

    Two structural rules, both r10 probe findings:

    1. IDENTICAL SETS COLLAPSE FIRST (boilerplate collapse): docs are
       grouped by their rarity-ordered token array, the join runs on
       one representative per distinct set, and pairs expand back
       through narrow (gid, id) member joins afterwards — identical
       members pair at Jaccard 1.0 row-locally, cross-group pairs
       inherit the representative score.  Plan cost now scales with
       UNIQUE content, not copies: a boilerplate-heavy corpus (the
       realistic 100 TB shape, and exactly the probe fixtures) no
       longer multiplies the join work by the duplication factor²
       before the threshold can prune anything.
    2. Verification happens INSIDE the prefix join (the kernel shape
       of Vernica et al., SIGMOD'10): the full sorted set rides each
       prefix posting, so Jaccard is computed row-locally in the
       join's codegen stage and the threshold filter runs before
       anything pair-shaped exists downstream.  The r10 100×-salted
       probe OOM'd the previous shape — candidate (id_a, id_b) pairs
       joined BACK to the corpus to fetch both token arrays, which
       widened an ~80M-row pair stream by ~2.4 KB through two
       sort-merge sorts (~190 GB) — the exact "payload rides the
       pair stream" wall the r8 kNN re-rank removed; payload now
       moves O(unique_sets · prefix_len) keyed by token, never
       O(pairs).  A pair sharing k prefix tokens appears k times in
       the join; the row whose ``ptok`` is the FIRST common prefix
       token (both prefixes share the global order, so
       array_intersect of the prefixes is order-stable) is the one
       kept — exact-once output with no pair-stream distinct.

    Shuffles: token df agg, the df join-back + per-set re-group, the
    set-collapse group-by, the prefix-token kernel join, and the two
    narrow member-expansion joins — every one keyed, none quadratic.
    """
    toks = df.select(F.col(id_col).alias("id"), F.explode(set_col).alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks_sorted")
        )
    )
    groups = (
        ordered.groupBy("toks_sorted")
        .agg(F.collect_list("id").alias("ids"))
        .withColumn("gid", F.array_min("ids"))
        .withColumn("n", F.size("toks_sorted"))
        # the collapsed index feeds both kernel sides AND both member
        # expansions — materialize so the shingle explode + df join +
        # re-group + collapse run once, not four times (this is the
        # index every AllPairs implementation builds anyway)
        .localCheckpoint()
    )
    plen = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).cast("int")
    pref = groups.select(
        "gid",
        "toks_sorted",
        "n",
        F.explode(F.slice(F.col("toks_sorted"), F.lit(1), plen)).alias(
            "ptok"
        ),
    )
    a = pref.select(
        F.col("gid").alias("gid_a"), F.col("toks_sorted").alias("sa"),
        F.col("n").alias("na"), "ptok",
    )
    b = pref.select(
        F.col("gid").alias("gid_b"), F.col("toks_sorted").alias("sb"),
        F.col("n").alias("nb"), "ptok",
    )
    # prefixes recomputed from the riding set POST-join (a slice is a
    # row-local copy) so the exchange ships one array per posting, not
    # an array plus its ~70% prefix
    plen_of = lambda n: (  # noqa: E731 - tiny local formula
        n - F.ceil(F.lit(threshold) * n) + 1
    ).cast("int")
    pa = F.slice("sa", F.lit(1), plen_of(F.col("na")))
    pb = F.slice("sb", F.lit(1), plen_of(F.col("nb")))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = F.round(inter / (F.col("na") + F.col("nb") - inter), score_scale)
    rep_pairs = (
        a.join(b, "ptok")
        .filter(F.col("gid_a") < F.col("gid_b"))
        # exact-once: keep the row keyed by the first common prefix
        # token (prefix intersect — small arrays — runs before the
        # full verify so redundant rows die cheaply)
        .filter(
            F.element_at(F.array_intersect(pa, pb), 1) == F.col("ptok")
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("gid_a", "gid_b", "jaccard")
    )
    members = groups.select("gid", F.explode("ids").alias("id"))
    cross = (
        rep_pairs.join(
            members.select(F.col("gid").alias("gid_a"), F.col("id").alias("ma")),
            "gid_a",
        )
        .join(
            members.select(F.col("gid").alias("gid_b"), F.col("id").alias("mb")),
            "gid_b",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    # identical nonempty sets pair at exactly 1.0 (empty sets never
    # share a token, so — matching the all-pairs definition — they
    # do not pair at all)
    dup_members = groups.filter(
        (F.size("ids") > 1) & (F.col("n") > 0)
    ).select("gid", F.explode("ids").alias("id"))
    within = (
        dup_members.alias("x")
        .join(dup_members.alias("y"), "gid")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)
