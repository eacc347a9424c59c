"""Composed CCDI → DCF index plan.

Spark re-expression of the reference's ``ccdi_to_dcf_index`` flow
(src/utils.py:1501-1567) with its per-sheet column extraction
(src/utils.py:1352-1456):

1. per file-node sheet, keep the 8 indexing columns
   (acl, authz, dcf_indexd_guid, md5sum, file_url, file_size, node,
   if_guid_missing);
2. mint one guid per distinct ``(md5sum, file_url)`` group where the
   guid is missing (src/utils.py:1395-1417) — the reference uses
   ``uuid4``; this engine mints a deterministic md5-based guid
   (:func:`..functions.ids.deterministic_guid_expr`) so re-runs are
   idempotent;
3. union the sheets and drop duplicates (src/utils.py:1544-1551);
4. stamp ``phs_accession`` and project the index column order
   ``guid, md5, size, acl, authz, urls, phs_accession``
   (src/utils.py:1553-1558).

Scale notes: each sheet's mint is one dimension-sized aggregation on
the group key joined back (no per-row generation, no window); the
cross-sheet dedup is the single full shuffle, on the already-projected
7-column frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import deterministic_guid_expr, mint_guids_per_group

#: final index manifest column order (src/utils.py:1557)
DCF_INDEX_COLS = ["guid", "md5", "size", "acl", "authz", "urls", "phs_accession"]

_SHEET_COLS = ["acl", "authz", "dcf_indexd_guid", "md5sum", "file_url", "file_size"]


def extract_dcf_sheet(sheet: DataFrame) -> DataFrame:
    """Per-sheet extraction + missing-guid mint (src/utils.py:1352-1456)."""
    df = sheet.select(*_SHEET_COLS)
    mint = deterministic_guid_expr(
        F.concat_ws("|", F.col("file_url"), F.col("md5sum"))
    )
    return mint_guids_per_group(
        df, ["md5sum", "file_url"], out_col="dcf_indexd_guid", mint=mint
    )


def ccdi_to_dcf_index(sheets: list[DataFrame], phs_accession: str) -> DataFrame:
    """Union all file-node sheets into the DCF index manifest frame."""
    parts = [extract_dcf_sheet(s) for s in sheets]
    combined = parts[0]
    for p in parts[1:]:
        combined = combined.unionByName(p)
    return (
        combined.dropDuplicates()
        .select(
            F.col("dcf_indexd_guid").alias("guid"),
            F.col("md5sum").alias("md5"),
            F.col("file_size").alias("size"),
            "acl",
            "authz",
            F.col("file_url").alias("urls"),
            F.lit(phs_accession).alias("phs_accession"),
        )
    )


def guid_fill_from_index(
    manifest: DataFrame,
    index_records: DataFrame,
    guid_col: str = "dcf_indexd_guid",
) -> DataFrame:
    """GUID checker (workflows/guid_checker.py:46-233) as one join plan.

    The reference walks the manifest row-at-a-time, querying the indexd
    API by ``(md5 hash, size)`` and accepting a record's ``did`` only
    when one of its urls matches the manifest ``file_url`` on BOTH
    basename and dirname (guid_checker.py:85-91); rows that already
    carry a guid are skipped (:60-65).

    Here ``index_records`` is the staged index extract
    ``(did, hash, size, urls array)`` — at scale an indexd bulk dump
    rather than per-row API calls.  The url array is exploded once,
    the manifest joins on ``(md5sum, file_size, basename, dirname)``,
    and ties resolve to ``max(did)`` for determinism; missing matches
    fill ``''`` exactly like ``pull_guids`` returning its ``guid = ""``
    default.  One shuffle join keyed on the md5 — no fan-out (urls per
    record is a handful), no driver loop, no API round-trips.
    """
    base = F.substring_index(F.col("__u__"), "/", -1)
    dirn = F.regexp_replace(F.col("__u__"), "/[^/]*$", "")
    exploded = index_records.select(
        F.col("did"),
        F.col("hash").alias("__h__"),
        F.col("size").alias("__s__"),
        F.explode("urls").alias("__u__"),
    ).select(
        "did",
        "__h__",
        "__s__",
        base.alias("__base__"),
        dirn.alias("__dir__"),
    )
    m_base = F.substring_index(F.col("file_url"), "/", -1)
    m_dir = F.regexp_replace(F.col("file_url"), "/[^/]*$", "")
    # per-physical-row id so the candidate de-fan groupBy preserves
    # duplicate manifest rows (the reference walks rows one at a time
    # and emits one output per input row, duplicates included)
    keyed = (
        manifest.withColumn("__rid__", F.monotonically_increasing_id())
        .withColumn("__mb__", m_base)
        .withColumn("__md__", m_dir)
    )
    matched = (
        keyed.join(
            exploded,
            (F.col("md5sum") == F.col("__h__"))
            & (F.col("file_size") == F.col("__s__"))
            & (F.col("__mb__") == F.col("__base__"))
            & (F.col("__md__") == F.col("__dir__")),
            "left",
        )
        .groupBy("__rid__", *manifest.columns)
        .agg(F.max("did").alias("__did__"))
    )
    filled = F.coalesce(
        F.when(F.trim(F.col(guid_col)) == "", None).otherwise(F.col(guid_col)),
        F.col("__did__"),
        F.lit(""),
    )
    return matched.withColumn(guid_col, filled).drop("__did__", "__rid__")


GUID_CHECK_FIELDS = (
    ("acl", "indexd_acl", "acl_check"),
    ("authz", "indexd_authz", "authz_check"),
    ("md5sum", "indexd_md5sum", "md5sum_check"),
    ("url", "indexd_url", "url_check"),
    ("file_size", "indexd_size", "size_check"),
)


def guid_meta_check(meta: DataFrame, index_records: DataFrame) -> DataFrame:
    """Sandbox guid metadata vs indexd record battery
    (src/sandbox_indexd_guid_validation.py:82-142).

    The reference issues one indexd API GET per guid and appends six
    python lists; here ``index_records`` is the staged index extract
    ``(guid, acl, authz, url, md5sum, file_size)`` and the whole
    battery is ONE left join on guid plus a codegen projection:
    ``indexd_guid_exist`` Yes/No from the join hit, and per-field
    Pass/Fail where a missing record compares against the reference's
    empty-string defaults (:102-108).  At 100 TB this is a single
    guid-keyed exchange (broadcast when the study extract is small);
    no API loop, no driver state.
    """
    idx = index_records.select(
        F.col("guid"),
        F.col("acl").alias("indexd_acl"),
        F.col("authz").alias("indexd_authz"),
        F.col("md5sum").alias("indexd_md5sum"),
        F.col("url").alias("indexd_url"),
        F.col("file_size").alias("indexd_size"),
    )
    joined = meta.join(idx, "guid", "left")
    exist = F.col("indexd_acl").isNotNull() | F.col("indexd_md5sum").isNotNull()
    out = joined.withColumn(
        "indexd_guid_exist", F.when(exist, F.lit("Yes")).otherwise(F.lit("No"))
    )
    # a guid absent from indexd keeps the reference's "" defaults
    # (sandbox_indexd_guid_validation.py:102-108) — fill BEFORE the
    # comparisons so every check reads Fail, not null, exactly like
    # np.where on the "" columns; indexd_size stays numeric (null).
    for c in ("indexd_acl", "indexd_authz", "indexd_md5sum", "indexd_url"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit("")))
    for left, right, flag in GUID_CHECK_FIELDS:
        eq = F.col(left) == F.col(right)
        out = out.withColumn(
            flag, F.when(eq, F.lit("Pass")).otherwise(F.lit("Fail"))
        )
    return out


def ghost_index_records(
    index_records: DataFrame, meta: DataFrame, phs_accession: str
) -> DataFrame:
    """Indexd records carrying the study's acl but absent from the
    sandbox pull (src/sandbox_indexd_guid_validation.py:146-200).

    The reference pages the index API 100 records at a time and probes
    a driver-side ``in`` list; here it is one filter (acl contains the
    accession — pushed to the index-extract scan) plus a left-anti
    join against the study's guid set.  The anti join broadcasts the
    guid side when small; nothing is collected.
    """
    scoped = index_records.filter(
        F.col("acl").contains(phs_accession)
    )
    ghosts = scoped.join(meta.select("guid"), "guid", "left_anti")
    return ghosts.select(
        F.col("guid"),
        F.col("md5sum").alias("md5"),
        F.col("file_size").alias("size"),
        "acl",
        "authz",
        F.col("url").alias("urls"),
    )
