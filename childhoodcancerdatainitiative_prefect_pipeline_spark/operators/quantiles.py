"""Exact order statistics without a global sort.

``approx_percentile`` (profile_columns_approx) is the default at
100 TB; this module is for when the answer must be EXACT and the
column is too big to total-sort: histogram-prune to the one bin that
contains the k-th element, then finish with a distributed top-k over
that bin only — two scans and a TakeOrdered over ~N/bins rows instead
of a full-column sort.  (The same prune recurses if N/bins is still
too large; one level suffices for any realistic bins setting.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_kth_smallest_twopass(
    df: DataFrame, col: str, k: int | None = None, bins: int = 1024
) -> float:
    """The k-th smallest value (1-indexed; default: lower median).

    Pass 1 aggregates (min, max, count) and a ``bins``-bucket
    histogram — both map-side-combinable, together one extra scan.
    The histogram is a FIXED-SIZE summary (≤ bins rows), so
    collecting it to the driver is bounded state, not a data-volume
    collect (same class as a broadcast threshold).  Bucket membership
    uses one shared expression in both passes, so float rounding at
    bin edges cannot desynchronize the counts from the final filter —
    and the result is the exact order statistic regardless of how the
    binning splits ties.

    Pass 2 filters to the single bucket holding rank k (predicate
    reaches the scan) and runs sort→limit — Spark compiles that to
    TakeOrderedAndProject, a distributed heap top-k, NOT a global
    sort: per-partition heaps of (k − below) elements, merged once.
    """
    stats = df.agg(
        F.min(col).alias("lo"),
        F.max(col).alias("hi"),
        F.count(col).alias("n"),
    ).collect()[0]
    if stats.n == 0:
        raise ValueError(f"no non-null rows in {col!r}")
    if k is None:
        k = (stats.n + 1) // 2
    if not 1 <= k <= stats.n:
        raise ValueError(f"k={k} outside [1, {stats.n}]")
    if stats.lo == stats.hi:
        return float(stats.lo)

    width = (float(stats.hi) - float(stats.lo)) / bins
    bucket = F.least(
        F.floor((F.col(col) - F.lit(float(stats.lo))) / F.lit(width)),
        F.lit(bins - 1),
    ).cast("int")
    hist = {
        r.b: r.cnt
        for r in df.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    below = 0
    target = None
    for b in sorted(hist):
        if below + hist[b] >= k:
            target = b
            break
        below += hist[b]
    assert target is not None  # k <= n guarantees a bucket crosses

    row = (
        df.filter(bucket == target)
        .orderBy(F.col(col).asc())
        .limit(k - below)
        .agg(F.max(col).alias("v"))
        .collect()[0]
    )
    return float(row.v)


def grouped_weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    bins: int = 1024,
) -> DataFrame:
    """Weighted median per group without a per-group global window.

    The naive formulation (cumulative weights over a value-ordered
    window partitioned by the group) serializes each group through
    ONE task — with 3 groups and 6M rows that is 3 single-threaded
    sorts (7.4 s at the 10× probe).  This version histogram-prunes
    per group, fully declaratively: (1) per-group (lo, hi, total) in
    one agg; (2) per-(group, bucket) weight sums — windows then run
    over ≤ bins rows per group to find the bucket whose cumulative
    weight crosses half; (3) the value-ordered window runs only over
    that one bucket's rows (~N/bins per group).  All weights stay
    DECIMAL end-to-end, so the crossing decision is exact and
    order-independent; value ties share a bucket, preserving the
    RANGE-frame tie semantics of the direct window.

    Returns (group_col, weighted_median).  Use the direct window when
    groups are many and small; this shape is for FEW, HUGE groups.

    The binned frame is ``localCheckpoint``-ed: the histogram AND the
    bucket-subset filter both branch off it, and Spark does not dedupe common subplans — without the
    checkpoint each downstream reference re-scans the input (the
    round-5 plan audit measured lineitem_mad_outliers at 49 fact-table
    scans; at 100 TB each redundant scan is a full pass).
    """
    from pyspark.sql import Window

    g, v, wd = group_col, value_col, weight_col
    stats = df.groupBy(g).agg(
        F.min(v).alias("__lo__"),
        F.max(v).alias("__hi__"),
        F.sum(wd).alias("__T__"),
    )
    # the broadcast hints on stats/below rest on the few-huge-groups
    # contract above: both frames are group-cardinality-sized
    staged = df.join(F.broadcast(stats), g)
    width = (F.col("__hi__") - F.col("__lo__")) / bins
    bucket = F.when(F.col("__hi__") == F.col("__lo__"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(v) - F.col("__lo__")) / width), F.lit(bins - 1)
        )
    ).cast("int")
    binned = staged.withColumn("__b__", bucket).localCheckpoint()
    hist = binned.groupBy(g, "__b__").agg(
        F.sum(wd).alias("__wsum__"), F.max("__T__").alias("__T__")
    )
    wb = (
        Window.partitionBy(g)
        .orderBy("__b__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum__", F.sum("__wsum__").over(wb))
    pick = (
        cum.filter(2 * F.col("__cum__") >= F.col("__T__"))
        .groupBy(g)
        .agg(F.min("__b__").alias("__bstar__"))
    )
    below = (
        cum.join(pick, g)
        .filter(F.col("__b__") == F.col("__bstar__"))
        .select(
            g,
            "__bstar__",
            (F.col("__cum__") - F.col("__wsum__")).alias("__below__"),
        )
    )
    subset = binned.join(F.broadcast(below), g).filter(
        F.col("__b__") == F.col("__bstar__")
    )
    wv = Window.partitionBy(g).orderBy(v)  # RANGE default: ties share cum
    return (
        subset.withColumn("__cumv__", F.sum(wd).over(wv))
        .filter(2 * (F.col("__below__") + F.col("__cumv__")) >= F.col("__T__"))
        .groupBy(g)
        .agg(F.min(v).alias("weighted_median"))
    )
