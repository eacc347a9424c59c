"""CCDI → SRA submission: the composed end-to-end plan.

Reference: src/s3_ccdi_to_sra.py:1338-1585 (``CCDI_to_SRA``).  The
pipeline stages, in the reference's order:

1. sequencing-node union + column trim/rename + exact dedup
   (``trim_seq_df``/``concat_seq_single_seq``, :140-235);
2. value reformatting — the F6 enum-normalization battery
   (platform/layout/selection, :485-722) + F14 design-description
   padding (:238-252);
3. filetype filter against the SRA term list (:726-734);
4. value verification: drop rows with missing required fields
   (:747-990, folded here to a required-null filter);
5. A10 cardinality guard: a library_ID spanning >1 sample_ID is
   dropped (``validate_sample_library``, :1157-1183);
6. previous-submission intake: W3 unpivot of the numbered file
   columns (:408-447) then U2 union + keep-last on
   (library_ID, filename) — current submission wins (:1511-1527);
7. F18 duplicate-filename uniquify: last-4-of-md5 prefix
   (``duplicate_filename_fix``, :1297-1331);
8. W2 spread: one row per library with ``filetype.N/filename.N/
   MD5_checksum.N`` columns (``spread_sra_df``, :1071-1125).

Spark-first: one lazy plan, no construction-time job.  Every stage is
a narrow projection or a single keyed shuffle; the plan's own
exchanges are the stage-1 dedup, the A10 window on library_ID, the
keep-last window on (library_ID, filename), the filename-dup window,
and the spread's library_ID window, whose partitioning the final
aggregation reuses — all on manifest-sized data.  Each input is
scanned once, and a consumer that reads only some output columns
(the release dashboard counts rows and libraries) lets Catalyst prune
the rest.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import map_values, pad_description
from ..operators.aggregates import cardinality_guard
from ..operators.reshape import spread_numbered, unpivot_numbered
from ..operators.setops import union_with_previous

#: SRA-allowed filetypes (subset of the Terms sheet's filetype list).
SRA_ALLOWED_FILETYPES: tuple[str, ...] = ("bam", "fastq", "cram")

#: numbered file-column triple (src/s3_ccdi_to_sra.py:1071-1125)
SRA_FILE_COLS: tuple[str, ...] = ("filetype", "filename", "MD5_checksum")


def normalize_platform(c: Column | str) -> Column:
    """F6 platform rewrite: prefix families → SRA controlled terms
    (src/s3_ccdi_to_sra.py:485-560, ``Illumina*``→``ILLUMINA`` etc.,
    unknown→OTHER)."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        F.when(col.startswith("Illumina"), "ILLUMINA")
        .when(col.startswith("Ion"), "ION_TORRENT")
        .when(col.startswith("PacBio"), "PACBIO_SMRT")
        .when(col.startswith("Oxford"), "OXFORD_NANOPORE")
        .otherwise("OTHER")
    )


def reformat_sra_values(df: DataFrame) -> DataFrame:
    """Stage 2 — the enum battery + description padding, one projection."""
    return (
        df.withColumn("platform", normalize_platform(F.col("platform_raw")))
        .withColumn(
            "library_layout",
            map_values(
                "layout_raw", {"Paired end": "paired", "Single end": "single"}
            ),
        )
        .withColumn(
            "library_selection", map_values("sel_raw", {"Random": "RANDOM"})
        )
        .withColumn("design_description", pad_description("dd_raw"))
        .drop("platform_raw", "layout_raw", "sel_raw", "dd_raw")
    )


def sra_verification_filter(
    df: DataFrame, required: Sequence[str] = ("sample_ID", "library_ID", "title")
) -> DataFrame:
    """Stage 4 — rows missing required fields are removed (the
    reference collects their indexes and drops them, :1482-1495)."""
    cond = None
    for c in required:
        piece = F.col(c).isNotNull()
        cond = piece if cond is None else (cond & piece)
    return df.filter(cond)


def duplicate_filename_fix(df: DataFrame) -> DataFrame:
    """Stage 7 — F18: filenames used by >1 row get a last-4-of-md5
    prefix so SRA's filename-as-ID constraint holds."""
    w = Window.partitionBy("filename")
    n = F.count(F.lit(1)).over(w)
    fixed = F.when(
        n > 1,
        F.concat(F.substring("MD5_checksum", 29, 4), F.lit("_"), F.col("filename")),
    ).otherwise(F.col("filename"))
    return df.withColumn("filename", fixed)


def ccdi_to_sra(
    seq_df: DataFrame,
    prev_wide: DataFrame | None,
    attr_cols: Sequence[str],
    max_files_per_library: int = 4,
) -> DataFrame:
    """The composed plan (stages 1-8).

    ``seq_df`` carries raw columns ``sample_ID library_ID title
    platform_raw layout_raw sel_raw dd_raw`` + ``attr_cols`` +
    the file triple; ``prev_wide`` is a previous submission with
    numbered ``.1/.2`` file columns (already SRA-normalized).
    """
    cur = seq_df.dropDuplicates()  # stage 1 (A9 exact)
    cur = reformat_sra_values(cur)  # stage 2
    cur = cur.filter(F.col("filetype").isin(*SRA_ALLOWED_FILETYPES))  # stage 3
    cur = sra_verification_filter(cur)  # stage 4
    _, cur = cardinality_guard(cur, "library_ID", "sample_ID")  # stage 5

    group_cols = ["sample_ID", "library_ID", "title", *attr_cols]
    long_cols = [*group_cols, *SRA_FILE_COLS]
    cur = cur.select(*long_cols).withColumn("__pri__", F.lit(1))

    if prev_wide is not None:  # stage 6
        prev_long = unpivot_numbered(
            prev_wide, key_cols=group_cols, value_cols=list(SRA_FILE_COLS), max_n=2
        ).drop("file_index")
        prev_long = prev_long.select(*long_cols).withColumn("__pri__", F.lit(0))
        merged = union_with_previous(
            cur,
            prev_long,
            keys=["library_ID", "filename"],
            priority=[F.col("__pri__").desc(), F.col("MD5_checksum").asc()],
        )
    else:
        merged = cur
    merged = merged.drop("__pri__")

    # stage 7 — lazy: the merged long frame has ONE consumer (stage 8)
    merged = duplicate_filename_fix(merged)

    # stage 8 — spread + the per-library constants in one aggregation
    return spread_numbered(
        merged,
        key="library_ID",
        order_by=["filename"],
        value_cols=list(SRA_FILE_COLS),
        max_n=max_files_per_library,
        carry_cols=[c for c in group_cols if c != "library_ID"],
    )
