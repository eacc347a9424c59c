"""Pivot / unpivot / reshape pack (SURVEY.md §2.6, W1-W5).

The EAV long→wide pivot is the backbone of the reference's graph-DB
extraction path (Neo4j → manifest).  At scale, ``pivot`` with an
explicit value list avoids the extra distinct-values job and keeps
the plan to a single shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def eav_pivot(
    df: DataFrame,
    id_col: str,
    prop_col: str,
    value_col: str,
    prop_values: Sequence[str] | None = None,
    multi_value: bool = False,
) -> DataFrame:
    """W1 — EAV long format → one row per entity, one column per prop.

    Reference: src/neo4j_data_tools.py:1666-1759; the DCC variant
    (:2199-2327) collapses multi-valued props with ``';'.join`` first
    (``multi_value=True``).  Pass ``prop_values`` when known (from the
    schema tables) to skip the distinct-scan job.
    """
    grouped = df.groupBy(id_col)
    pivoted = grouped.pivot(prop_col, list(prop_values) if prop_values else None)
    if multi_value:
        return pivoted.agg(
            F.concat_ws(";", F.sort_array(F.collect_set(value_col)))
        )
    return pivoted.agg(F.first(value_col, ignorenulls=True))


def spread_numbered(
    df: DataFrame,
    key: str,
    order_by: Sequence[str],
    value_cols: Sequence[str],
    max_n: int,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """W2 — fold N rows per key into numbered wide columns.

    Reference: src/s3_ccdi_to_sra.py:1071-1125 — files sharing a
    library_ID become ``filetype.1/filename.1/… .N`` columns.
    One window + one aggregation keyed like the window, so the two
    share a single exchange: value ``c`` of slot ``i`` is
    ``max(when(row_number == i, c))``.  ``carry_cols`` are per-key
    constants carried along as ``max`` over ALL of the key's rows
    (slots past ``max_n`` included).  Output columns: ``key``,
    ``*carry_cols``, then ``c.1`` for each value column, ``c.2``, ….
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_by])
    idx = F.col("__idx__")
    numbered = df.withColumn("__idx__", F.row_number().over(w))
    if not carry_cols:
        # rows past max_n feed nothing: the filter becomes a map-side
        # WindowGroupLimit that drops them before the exchange
        numbered = numbered.filter(idx <= max_n)
    return numbered.groupBy(key).agg(
        *[F.max(c).alias(c) for c in carry_cols],
        *[
            F.max(F.when(idx == i, F.col(c))).alias(f"{c}.{i}")
            for i in range(1, max_n + 1)
            for c in value_cols
        ],
    )


def unpivot_numbered(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    max_n: int,
    idx_alias: str = "file_index",
) -> DataFrame:
    """W3 — reverse of W2: numbered wide columns back to long rows.

    Reference: src/s3_ccdi_to_sra.py:408-447 (previous-submission
    unpivot).  One pass over ``df``: every index whose value columns
    are all present becomes one struct of an array, the array is
    exploded and all-null rows are dropped.
    """
    slots = [
        F.struct(
            F.lit(idx).alias(idx_alias),
            *[F.col(f"`{c}.{idx}`").alias(c) for c in value_cols],
        )
        for idx in range(1, max_n + 1)
        if all(f"{c}.{idx}" in df.columns for c in value_cols)
    ]
    out = df.select(
        *key_cols, F.explode(F.array(*slots)).alias("__slot__")
    ).select(*key_cols, "__slot__.*")
    cond = None
    for c in value_cols:
        piece = F.col(c).isNotNull()
        cond = piece if cond is None else (cond | piece)
    return out.filter(cond)


def explode_delimited(
    df: DataFrame, col: str, out_col: str | None = None, sep: str = ";"
) -> DataFrame:
    """W5 — ';'-array cell → one row per element.

    Reference: src/s3_catcherry.py:474-487,
    src/s3_validationry_refactored.py:316-349.
    """
    out = out_col or col
    return df.withColumn(out, F.explode(F.split(F.col(col), sep)))


def implode_delimited(
    df: DataFrame, by: Sequence[str], col: str, out_col: str | None = None, sep: str = ";"
) -> DataFrame:
    """W5 inverse — collect distinct elements back to a sorted ';' cell.

    Reference: src/neo4j_data_tools.py:2022-2036.
    """
    out = out_col or col
    return df.groupBy(*by).agg(
        F.concat_ws(sep, F.sort_array(F.collect_set(col))).alias(out)
    )


def nest_dotted(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Dotted column names → nested struct columns.

    Spark shape of the reference's ``flatten_to_nested``
    (src/s3_ccdi_to_gdc.py:58-84): columns like ``participant.id``
    become ``participant: struct<id>``, recursively for deeper paths.
    Null skipping is delegated to ``to_json`` downstream
    (``ignoreNullFields`` is on by default, the exact analog of the
    reference skipping NaN/'' when building each row's dict).
    Pure projection — no shuffle, codegen-friendly.
    """
    cols = cols if cols is not None else df.columns

    def build(prefix: str, names: list[str]) -> list[Column]:
        groups: dict[str, list[str]] = {}
        leaves: list[Column] = []
        for n in names:
            if "." in n:
                head, rest = n.split(".", 1)
                groups.setdefault(head, []).append(rest)
            else:
                full = f"{prefix}{n}" if prefix else n
                leaves.append(F.col(f"`{full}`").alias(n))
        for head, rests in groups.items():
            sub = build(f"{prefix}{head}.", rests)
            leaves.append(F.struct(*sub).alias(head))
        return leaves

    return df.select(*build("", cols))
