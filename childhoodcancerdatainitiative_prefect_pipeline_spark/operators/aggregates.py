"""Aggregation pack (SURVEY.md §2.4, A1-A12).

Every aggregate is expressed with built-in functions so Spark plans
partial (map-side) aggregation automatically; nothing here collects
to the driver.  Numeric sums over doubles are routed through exact
decimal arithmetic (`exact_sum`) so results are order-independent —
required both for DuckDB-oracle hash parity and for deterministic
re-runs at 1000-executor scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Decimal type used for order-independent exact sums of doubles.
EXACT_DECIMAL = "decimal(18,4)"


def scaled_money(col: str | Column, frac: int = 4) -> Column:
    """Exact unscaled integer ``value × 10^frac`` of
    ``CAST(col AS DECIMAL(18,frac))`` as a LONG.

    Validity bounds (ADVICE r10 corrected the original ``|v| < 9e14``
    claim, which only guarded the long overflow, not exactness):

    - the column's true decimal expansion has at most ``frac``
      fractional digits, AND
    - ``|value·10^frac| ≲ 2^51`` (≈ ``|value| ≤ 2e11`` at frac=4):
      past that, the double product ``v·10^frac`` can land ≥ 0.5 ulp
      from the true integer and the ±0.5 nudge silently rounds the
      wrong way (empirical fuzz: first mismatches vs the decimal cast
      at |v| ≈ 2e11, e.g. v=834308901502.93).  Within the bound the
      product is within a few ulps (< 0.5 absolute) of the true
      integer, so ``trunc(v·10^frac + sign(v)·0.5)`` reproduces the
      HALF_UP decimal cast exactly.

    These bound the PER-ROW value, not group totals (sums run in
    DECIMAL(38,0), :func:`sum_scaled`).  Every monetary/measure column
    in the star schema is 2-dp money ≤ ~1e7 per row at any scale
    factor — five orders inside the bound; the bound itself is pinned
    by tests/test_properties.py::test_scaled_money_*.

    The point is CPU (guide §2.3, narrower types): a double→decimal
    cast plus wide decimal multiplies cost ~µs/row through BigDecimal,
    and made the sum-heavy fact scans compute-bound (q1 at the 10×
    replica: ~14 CPU-seconds for 6M rows, ~2.3 µs/row).  Two double
    ops and a long cast replace that; downstream products/sums stay in
    long/compact-decimal arithmetic.  Exactness vs the decimal path is
    oracle-verified for every converted query at sf0.001/0.01/0.1.

    A value with more than ``frac`` fractional digits can sit on a
    rounding half-point (``x.xxxx5``), where the product's error (at
    most ``|v·10^frac|·2^-52``) decides the side and the nudge can round
    the wrong way (e.g. v=19999999999.92885).  Inside the bound, rows
    whose product lies that close to a half-point take the decimal cast
    itself; ``frac``-digit values are never that close, so 2-dp money
    stays on the fast path.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = c * (10**frac)
    half_gap = F.abs(F.abs(p - p.cast("long")) - F.lit(0.5))
    near_half = (half_gap <= F.abs(p) * F.lit(2.0**-52)) & (
        F.abs(p) < F.lit(2.0**51)
    )
    exact = (c.cast(f"decimal(18,{frac})") * (10**frac)).cast("long")
    fast = (p + F.signum(c) * F.lit(0.5)).cast("long")
    return F.when(near_half, exact).otherwise(fast)


def sum_scaled(scaled: Column, frac: int, alias: str | None = None) -> Column:
    """Exact SUM of a scaled-long column → the same DOUBLE the
    decimal path (``SUM(CAST(.. AS DECIMAL)) :: DOUBLE``) produces.

    The longs are summed as DECIMAL(38,0): integer addition, order-
    independent, long-backed (compact, fast) while the running total
    fits 18 digits and exact far beyond any 100 TB total (overflow at
    1e38).  The final division by ``10^frac`` is planned by Spark's
    ``adjustPrecisionScale`` at result scale EXACTLY 6 for every
    divisor used here (frac = 4/8/12 — the naive ``s1+p2+1`` scale
    overflows precision 38 and is capped back to
    ``max(6, ...)`` = 6; ADVICE r10).  Hard precondition, pinned by
    tests/test_properties.py::test_sum_scaled_planned_scale_is_6: the
    quotient has at most 6 TRUE fractional digits, or it would be
    HALF_UP-rounded before the double cast and diverge from the
    decimal path.  This schema satisfies it: 2-dp money sums have 2;
    2dp×2dp product sums (frac=8) have 4; q1's charge sums (frac=12)
    have exactly 6 — the boundary.
    """
    div = F.lit(10**frac).cast(f"decimal({len(str(10 ** frac))},0)")
    out = (F.sum(scaled.cast("decimal(38,0)")) / div).cast("double")
    return out.alias(alias) if alias else out


def scaled_to_double(scaled: Column, frac: int, alias: str | None = None) -> Column:
    """An ALREADY-SUMMED scaled-long value → the same DOUBLE its
    decimal twin (``CAST(decimal_sum AS DOUBLE)``) produces.

    Same exactness argument — and the same hard precondition — as
    :func:`sum_scaled`'s final step: the division is planned at scale
    6 (NOT ``frac``+1; ``adjustPrecisionScale`` caps it — ADVICE r10),
    so the quotient must have at most 6 true fractional digits for the
    only rounding to be the final double cast.  Used where a
    scaled-long group sum survives as a column (q11/q15/q18-style
    HAVING shapes) instead of being cast inside the aggregation.
    """
    div = F.lit(10**frac).cast(f"decimal({len(str(10 ** frac))},0)")
    out = (scaled.cast("decimal(38,0)") / div).cast("double")
    return out.alias(alias) if alias else out


def exact_sum(col: str | Column, alias: str | None = None) -> Column:
    """Sum a double column exactly, emit double.

    Decimal-cast semantics (order-independent, engine-portable), but
    executed on the scaled-long fast path.  Result is bit-identical to
    ``SUM(CAST(col AS DECIMAL(18,4))) :: DOUBLE`` — CONDITIONAL on
    :func:`scaled_money`'s per-row bounds: values carry at most 4
    true fractional digits and ``|value| ≲ 2e11``.  Callers applying
    this to generic ``value`` columns (e.g. streaming/events rollups)
    inherit that precondition; the fixtures' event values are 2-dp and
    bounded, verified bit-identical at three SFs (ADVICE r10).
    """
    c = F.col(col) if isinstance(col, str) else col
    return sum_scaled(scaled_money(c), 4, alias)


def revenue_sum(
    price_col: str | Column, discount_col: str | Column, alias: str | None = None
) -> Column:
    """``SUM(price·(1−discount))`` with exact decimal semantics on the
    scaled-long fast path: ``price₄·(10⁴−disc₄)`` is an exact long
    product (≤ ~1.1e13 per row), summed per :func:`sum_scaled`.
    Bit-identical to the DECIMAL(18,4) formulation in the oracles.
    """
    e4, d4 = scaled_money(price_col), scaled_money(discount_col)
    return sum_scaled(e4 * (F.lit(10000).cast("long") - d4), 8, alias)


def group_count(df: DataFrame, by: Sequence[str], count_alias: str = "count") -> DataFrame:
    """A1 — ``groupby(prop).size()`` value/count summary.

    Reference: workflows/data_catalog_stats.py:47-51.
    """
    return df.groupBy(*by).agg(F.count(F.lit(1)).alias(count_alias))


def two_level_distinct_count(
    df: DataFrame, distinct_cols: Sequence[str], by: Sequence[str], alias: str = "count"
) -> DataFrame:
    """A2 — distinct (a, b) pairs, then count per b.

    Reference: workflows/data_catalog_stats.py:150 (distinct
    (sample, assay) → per-assay counts).
    """
    return (
        df.select(*distinct_cols)
        .dropDuplicates(list(distinct_cols))
        .groupBy(*by)
        .agg(F.count(F.lit(1)).alias(alias))
    )


def duplicates(df: DataFrame, keys: Sequence[str], count_alias: str = "dup_count") -> DataFrame:
    """A3 — key groups occurring more than once.

    Reference: src/s3_validationry_refactored.py:944-964 (key
    uniqueness), src/s3_ccdi_to_sra.py:1129-1154.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .filter(F.col(count_alias) > 1)
    )


def cross_table_key_collisions(
    tagged: Sequence[tuple[str, DataFrame, str]],
    key_alias: str = "key_value",
    nodes_alias: str = "nodes",
) -> DataFrame:
    """A4 — keys appearing in more than one node table.

    Reference: src/s3_validationry_refactored.py:1022-1109 — builds
    ``{key → [nodes]}`` across all sheets.  ``tagged`` is
    ``(node_name, df, key_col)``; output is one row per colliding key
    with a sorted ';'-joined node list (string form keeps the result
    engine-portable).
    """
    parts = [
        df.select(
            F.col(key_col).cast("string").alias(key_alias),
            F.lit(node).alias("__node__"),
        ).filter(F.col(key_col).isNotNull())
        for node, df, key_col in tagged
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy(key_alias)
        .agg(F.sort_array(F.collect_set("__node__")).alias("__ns__"))
        .filter(F.size("__ns__") > 1)
        .select(key_alias, F.concat_ws(";", "__ns__").alias(nodes_alias))
    )


def group_concat_distinct(
    df: DataFrame, by: Sequence[str], value_col: str, alias: str | None = None
) -> DataFrame:
    """A5 — ``';'.join(sorted(unique(values)))`` per group.

    Reference: src/s3_ccdi_to_sra.py:1186-1294 (library_ID /
    design_description collapse).
    """
    out = alias or f"{value_col}_set"
    return df.groupBy(*by).agg(
        F.concat_ws(";", F.sort_array(F.collect_set(value_col))).alias(out)
    )


def min_per_group_dedup_sum(
    df: DataFrame, group_col: str, value_col: str, alias: str = "dedup_total"
) -> DataFrame:
    """A7 — per-group MIN then global SUM (unique-file size).

    Reference: src/neo4j_data_tools.py:337-345 (Cypher
    ``MIN(fileSize)`` per md5 → ``SUM``).
    """
    per_group = df.groupBy(group_col).agg(
        F.min(F.col(value_col).cast(EXACT_DECIMAL)).alias("__m__")
    )
    return per_group.agg(F.sum("__m__").cast("double").alias(alias))


def binned_histogram(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    bin_alias: str = "bin",
    count_alias: str = "count",
    sentinel: float | None = None,
    sentinel_label: str = "Not Reported",
) -> DataFrame:
    """A8 — fixed-width binned histogram with sentinel bucket.

    Reference: workflows/data_catalog_stats.py:78-104 (``pd.cut`` on
    age with a −999 'Not Reported' bucket).  The bin label is the
    inclusive lower bound as a string so the sentinel can share the
    column.
    """
    v = F.col(value_col)
    bin_lo = (F.floor(v / F.lit(bin_width)) * F.lit(bin_width)).cast("long")
    label = bin_lo.cast("string")
    if sentinel is not None:
        label = F.when(v == F.lit(sentinel), F.lit(sentinel_label)).otherwise(label)
    label = F.when(v.isNull(), F.lit(sentinel_label)).otherwise(label)
    return (
        df.select(label.alias(bin_alias))
        .groupBy(bin_alias)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )


def dedup_keep_last(
    df: DataFrame, keys: Sequence[str], priority: Sequence[str | Column]
) -> DataFrame:
    """A9 — subset dedup, highest-priority row wins.

    Reference: src/s3_ccdi_to_sra.py:1151-1153 (``keep='last'`` where
    later submissions win).  pandas keep-last depends on row order;
    here priority is explicit: rows sort by ``priority`` descending
    and the first row per key is kept — deterministic under shuffles.
    """
    order = [F.col(p).desc() if isinstance(p, str) else p for p in priority]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def cardinality_guard(
    df: DataFrame, key: str, dependent: str, max_distinct: int = 1
) -> tuple[DataFrame, DataFrame]:
    """A10 — keys mapping to more than ``max_distinct`` dependents.

    Reference: src/s3_ccdi_to_sra.py:1157-1183 (library_ID → >1
    sample dropped), src/s3_ccdi_to_dbgap.py:276-321 (SAMPLE_ID → >1
    SUBJECT_ID is an error).  Returns (violations, clean_rows).
    ``clean_rows`` is one window over ``df`` rather than an anti-join
    against the violations, so it scans ``df`` once; rows with a null
    key are kept, as the anti-join kept them.
    """
    bad_keys = (
        df.groupBy(key)
        .agg(F.countDistinct(dependent).alias("n_dependents"))
        .filter(F.col("n_dependents") > max_distinct)
    )
    n = F.size(F.collect_set(dependent).over(Window.partitionBy(key)))
    clean = (
        df.withColumn("__n__", n)
        .filter((F.col("__n__") <= max_distinct) | F.col(key).isNull())
        .drop("__n__")
    )
    return bad_keys, clean


def count_reconciliation(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_alias: str = "left_count",
    right_alias: str = "right_count",
    flag_alias: str = "flag",
) -> DataFrame:
    """A11 — two per-key counts full-outer joined with Equal/Unequal.

    Reference: src/neo4j_data_tools.py:970-1008, :1151-1227 (DB node
    counts vs ingestion TSV counts per study×node).
    """
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias(left_alias))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias(right_alias))
    joined = lc.join(rc, on=list(keys), how="full_outer")
    flag = F.when(
        F.coalesce(F.col(left_alias), F.lit(0))
        == F.coalesce(F.col(right_alias), F.lit(0)),
        "Equal",
    ).otherwise("Unequal")
    return joined.withColumn(flag_alias, flag)
