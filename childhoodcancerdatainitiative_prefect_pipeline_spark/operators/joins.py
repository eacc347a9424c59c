"""Join pack (SURVEY.md §2.3, J1-J11).

All equi-joins are declared with the DataFrame API so Catalyst/AQE
pick broadcast-hash vs sort-merge (dimension sides are hinted with
``broadcast``).  The reference's iterative graph walks become bounded
driver loops of joins with frontier early-exit — the *plan* per hop
is still fully declarative.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def left_join(
    parent: DataFrame,
    child: DataFrame,
    key: str,
    broadcast_child: bool = False,
) -> DataFrame:
    """J1 — left equi-join parent⨝child on a shared key.

    Reference: src/s3_ccdi_to_cds.py:269-279 (``join_node``), which
    renames ``<p>.<p>_id`` to ``<p>_id`` then ``pd.merge(how='left')``.
    """
    right = F.broadcast(child) if broadcast_child else child
    return parent.join(right, on=key, how="left")


def coalesce_conflicts(
    joined: DataFrame,
    left_suffix: str = "_x",
    right_suffix: str = "_y",
) -> DataFrame:
    """J2 — resolve post-join column collisions, parent wins.

    Reference: src/s3_ccdi_to_cds.py:281-297 (``combine_first``).
    Columns named ``c_x``/``c_y`` collapse to ``c = coalesce(c_x, c_y)``.
    """
    lefts = {c[: -len(left_suffix)]: c for c in joined.columns if c.endswith(left_suffix)}
    rights = {c[: -len(right_suffix)]: c for c in joined.columns if c.endswith(right_suffix)}
    out_cols = []
    consumed = set()
    for c in joined.columns:
        base = None
        if c.endswith(left_suffix) and c[: -len(left_suffix)] in rights:
            base = c[: -len(left_suffix)]
        if base is None:
            if c in consumed:
                continue
            out_cols.append(F.col(c))
            continue
        lcol, rcol = lefts[base], rights[base]
        consumed.add(rcol)
        out_cols.append(F.coalesce(F.col(lcol), F.col(rcol)).alias(base))
    return joined.select(*out_cols)


def lookup_join(
    df: DataFrame,
    mapping: DataFrame,
    on: str,
    from_col: str,
    to_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """J4 — broadcast lookup-table join with dict-get(default) semantics.

    Reference: src/s3_catcherry.py:312-411, :651-695 — a 2-column TSV
    loaded into a dict and applied with ``.get(v, v)``.  Spark-first:
    broadcast left join + ``coalesce(mapped, original)``; the lookup
    never shuffles the fact side.  The forced hint is safe by
    contract: the mapping is a curated, human-maintained TSV (the
    reference materializes it as an in-memory dict), bounded at any
    corpus scale.
    """
    out = out_col or on
    m = F.broadcast(
        mapping.select(
            F.col(from_col).alias("__from__"), F.col(to_col).alias("__to__")
        ).dropDuplicates(["__from__"])
    )
    joined = df.join(m, df[on] == m["__from__"], "left")
    mapped = F.coalesce(F.col("__to__"), F.col(on))
    return joined.withColumn(out, mapped).drop("__from__", "__to__")


def diff_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    indicator_col: str = "_merge",
) -> DataFrame:
    """J5 — full-outer diff join with pandas-style indicator.

    Reference: workflows/compare_dataframes.py:27-50
    (``merge(indicator=True)`` → both / left_only / right_only).
    """
    lmark = left.withColumn("__l__", F.lit(1))
    rmark = right.withColumn("__r__", F.lit(1))
    joined = lmark.join(rmark, on=list(keys), how="full_outer")
    indicator = (
        F.when(F.col("__l__").isNotNull() & F.col("__r__").isNotNull(), "both")
        .when(F.col("__l__").isNotNull(), "left_only")
        .otherwise("right_only")
    )
    return joined.withColumn(indicator_col, indicator).drop("__l__", "__r__")


def anti_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """J6 — rows of ``left`` with no key match in ``right``.

    Reference: src/s3_validationry_refactored.py:1387-1427 (bucket
    objects missing from manifest), src/neo4j_data_tools.py:1152-1227.
    """
    return left.join(right, on=list(keys), how="left_anti")


def semi_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """J7 — rows of ``left`` with ≥1 key match in ``right``.

    Reference: src/s3_ccdi_to_dbgap.py:236-273.
    """
    return left.join(right, on=list(keys), how="left_semi")


def iterative_resolve(
    frontier: DataFrame,
    parent_maps: Sequence[tuple[DataFrame, str, str]],
    terminal_map: tuple[DataFrame, str, str],
    target_col: str,
    max_hops: int = 10,
) -> DataFrame:
    """J8 — bounded iterative chain traversal (``deep_search``).

    Reference: src/s3_catcherry.py:770-905 — file→sample→(pdx/
    cell_line→sample)*→participant→consent walk bounded at 10 hops;
    same shape as dbGaP SSM re-parenting (src/s3_ccdi_to_dbgap.py:59-204).

    ``frontier`` carries a ``__cursor__`` key column plus any payload.
    Each round, the cursor is first probed against ``terminal_map``
    ``(table, key_col, value_col)``; rows that hit leave the frontier
    with ``target_col`` set.  Misses advance ``__cursor__`` through the
    FIRST matching intermediate map in ``parent_maps`` (tried in
    order, e.g. pdx→sample before cell_line→sample); rows that match
    no map are unresolvable and drop out — mirroring ``deep_search``
    returning no consent group.  Early exit when the frontier drains
    (cheap limit-1 probe).  Procedural *driver* control flow, but
    every hop is a declarative broadcast-able equi-join, so at 100 TB
    the fact-side frontier never shuffles against dimension maps.
    """
    t_table, t_key, t_val = terminal_map
    term = F.broadcast(
        t_table.select(
            F.col(t_key).alias("__tk__"), F.col(t_val).alias(target_col)
        ).dropDuplicates(["__tk__"])
    )
    resolved: DataFrame | None = None
    cur = frontier
    for _hop in range(max_hops):
        # eager checkpoint: the drain probe, the done-branch, and the
        # next hop all read this hop's materialized output instead of
        # re-running every prior hop's joins (the probe made the loop
        # quadratic in hop count otherwise)
        step = (
            cur.join(term, cur["__cursor__"] == F.col("__tk__"), "left")
            .drop("__tk__")
            .localCheckpoint()
        )
        done = step.filter(F.col(target_col).isNotNull()).drop("__cursor__")
        resolved = done if resolved is None else resolved.unionByName(done)
        pending = step.filter(F.col(target_col).isNull()).drop(target_col)
        if pending.limit(1).count() == 0:
            break
        adv = pending
        next_cols: list[str] = []
        for j, (table, k_col, v_col) in enumerate(parent_maps):
            m = F.broadcast(
                table.select(
                    F.col(k_col).alias(f"__k{j}__"), F.col(v_col).alias(f"__n{j}__")
                ).dropDuplicates([f"__k{j}__"])
            )
            adv = adv.join(m, adv["__cursor__"] == F.col(f"__k{j}__"), "left").drop(
                f"__k{j}__"
            )
            next_cols.append(f"__n{j}__")
        advance = (
            F.coalesce(*[F.col(c) for c in next_cols]) if next_cols else F.lit(None)
        )
        cur = (
            adv.withColumn("__next__", advance)
            .filter(F.col("__next__").isNotNull())
            .withColumn("__cursor__", F.col("__next__"))
            .drop("__next__", *next_cols)
        )
    return resolved if resolved is not None else frontier.limit(0)


def fuzzy_relink(
    manifest: DataFrame,
    listing: DataFrame,
    name_col: str = "file_name",
    size_col: str = "file_size",
    url_col: str = "file_url",
    listing_path_col: str = "file_path",
) -> DataFrame:
    """J9 — repair broken urls by (name, size) match against a listing.

    Reference: src/s3_catcherry.py:1130-1182 — size-exact match
    preferred; unique-name fallback; ambiguous names reported.

    The classification depends only on per-(name) and per-(name, size)
    listing counts, so the listing is aggregated FIRST and the manifest
    joins the two count tables.  The naive shape (join on name, then
    window over the candidates) fans the manifest out by the
    name-duplication factor and shuffles the blow-up twice; with 64
    distinct names over 20k files that was a 4M-row window for a
    20k-row answer (8.5 s → 0.6 s at sf0.1), and filenames in real
    buckets duplicate too (``sample.bam``...).  The count tables carry
    NO forced broadcast hint: they scale with the bucket listing (a
    100 TB bucket lists 10⁸+ objects), so size-based selection (20m
    threshold + AQE) broadcasts them for bench-sized listings and
    demotes to a shuffle join when the listing outgrows an executor.
    """
    by_name = listing.groupBy(name_col).agg(
        F.count(F.lit(1)).alias("__n_cand__"),
        F.min(listing_path_col).alias("__only_path__"),
    )
    by_size = listing.groupBy(
        F.col(name_col).alias("__bs_name__"),
        F.col(size_col).alias("__ls_size__"),
    ).agg(
        F.count(F.lit(1)).alias("__n_size__"),
        F.min(listing_path_col).alias("__size_path__"),
    )
    cand = (
        manifest.join(by_name, on=name_col, how="left")
        .join(
            by_size,
            on=(F.col(name_col) == F.col("__bs_name__"))
            & (F.col(size_col) == F.col("__ls_size__")),
            how="left",
        )
        .drop("__bs_name__")
        .withColumn("__n_cand__", F.coalesce("__n_cand__", F.lit(0)))
        .withColumn("__n_size__", F.coalesce("__n_size__", F.lit(0)))
    )
    status = (
        F.when(F.col("__n_cand__") == 0, "missing")
        .when(F.col("__n_size__") == 1, "size_match")
        .when(F.col("__n_cand__") == 1, "name_match")
        .otherwise("ambiguous")
    )
    picked = (
        F.when(F.col("__n_size__") == 1, F.col("__size_path__"))
        .when(
            (F.col("__n_cand__") == 1) & (F.col("__n_size__") != 1),
            F.col("__only_path__"),
        )
        .otherwise(F.lit(None))
    )
    out = (
        cand.withColumn("relink_status", status)
        .withColumn("__picked__", picked)
        .withColumn(
            "resolved_url", F.coalesce(F.col("__picked__"), F.col(url_col))
        )
    )
    keep = (F.col("__picked__").isNotNull()) | (
        F.col("relink_status").isin("missing", "ambiguous")
    )
    return (
        out.filter(keep)
        .dropDuplicates([name_col, url_col])
        .drop(
            "__ls_size__", "__only_path__", "__size_path__",
            "__n_cand__", "__n_size__", "__picked__",
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_col: str,
    ts_col: str,
    value_cols: Sequence[str],
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join — latest right row at-or-before each left row.

    Spark has no ASOF JOIN; the naive theta-join
    (``l.ts >= r.ts`` + keep-max) explodes to O(|L|·|R|) per key.
    This is the scalable union formulation: tag both sides, sort each
    partition once by ``(ts, tag)`` (right rows first on ties, so
    equal timestamps match like SQL ``ASOF``'s ``>=``), and carry the
    right side's values forward with ``last(ignorenulls)`` over an
    unbounded-preceding window.  ONE shuffle on the partition key,
    cost O((|L|+|R|) log) per partition — the same plan shape DuckDB
    and kdb execute natively.

    ``value_cols`` must exist on ``right`` and not collide with
    ``left``'s columns; they surface as ``{prefix}{col}``, null when
    no right row precedes.
    """
    from pyspark.sql import Window

    tag = "__asof_tag__"
    tagged_r = right.select(
        F.col(partition_col),
        F.col(ts_col),
        *[F.col(v) for v in value_cols],
        F.lit(0).alias(tag),
    )
    tagged_l = left.withColumn(tag, F.lit(1))
    u = tagged_l.unionByName(tagged_r, allowMissingColumns=True)
    w = (
        Window.partitionBy(partition_col)
        .orderBy(ts_col, tag)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for v in value_cols:
        u = u.withColumn(prefix + v, F.last(v, ignorenulls=True).over(w))
    return u.filter(F.col(tag) == 1).drop(tag, *value_cols)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Bucketized range join — points matched to covering intervals.

    Spark plans a bare ``p.v BETWEEN i.lo AND i.hi`` join as
    BroadcastNestedLoop (or a cartesian) — O(|P|·|I|) work however
    small the true match set.  Here every interval is replicated to
    the coarse buckets it covers (``sequence(floor(lo/w), floor(hi/w))``),
    each point hashes to exactly ONE bucket, and the bucket equi-join +
    residual ``BETWEEN`` filter does only the work of actual bucket
    collisions.  Each (point, interval) pair meets in exactly one
    bucket, so no post-join dedup is needed.  Pick ``bucket_width``
    near the median interval width: replication factor stays ~2 while
    a bucket's candidate set stays tiny.
    """
    b = "__bucket__"
    lo, hi, v = F.col(lo_col), F.col(hi_col), F.col(point_col)
    bucketed_i = intervals.withColumn(
        b,
        F.explode(
            F.sequence(
                F.floor(lo / bucket_width).cast("long"),
                F.floor(hi / bucket_width).cast("long"),
            )
        ),
    )
    bucketed_p = points.withColumn(b, F.floor(v / bucket_width).cast("long"))
    return (
        bucketed_p.join(bucketed_i, on=b)
        .filter((v >= lo) & (v <= hi))
        .drop(b)
    )
