"""URL / filename scalar functions (SURVEY.md §2.10: F11, F12, F18).

All built-ins (`parse_url`, `substring_index`, `regexp_extract`) —
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def s3_bucket(url: Column | str) -> Column:
    """F11 — ``s3://bucket/key`` → bucket (src/utils.py:1211-1224)."""
    return F.regexp_extract(_c(url), r"^s3://([^/]+)/", 1)


def s3_key(url: Column | str) -> Column:
    """F11 — ``s3://bucket/key`` → key."""
    return F.regexp_extract(_c(url), r"^s3://[^/]+/(.*)$", 1)


def url_basename(url: Column | str) -> Column:
    """F11 — last path segment (src/s3_validationry_refactored.py:1201-1232)."""
    return F.substring_index(_c(url), "/", -1)


#: F12 — extension→file_type inference table
#: (src/s3_validationry_refactored.py:1235-1338): .gz double-extension
#: handling plus special cases; >6-char extensions fall back to txt.
SPECIAL_EXT_TYPES: tuple[tuple[str, str], ...] = (
    ("bam", "bam"), ("bai", "bai"), ("cram", "cram"), ("crai", "crai"),
    ("fastq", "fastq"), ("fq", "fastq"), ("fasta", "fasta"), ("fa", "fasta"),
    ("tbi", "tbi"), ("dcm", "dicom"), ("nii", "nifti"), ("tab", "tsv"),
    ("vcf", "vcf"), ("txt", "txt"), ("tsv", "tsv"), ("csv", "csv"),
    ("pdf", "pdf"), ("html", "html"), ("json", "json"),
)


def file_extension(name: Column | str) -> Column:
    """F12 — extension with .gz double-extension handling:
    ``x.vcf.gz`` → ``vcf.gz``, ``x.bam`` → ``bam``."""
    n = _c(name)
    last = F.lower(F.substring_index(n, ".", -1))
    prev = F.lower(F.element_at(F.split(n, r"\."), -2))
    return F.when(last == "gz", F.concat(prev, F.lit(".gz"))).otherwise(last)


def infer_file_type(name: Column | str) -> Column:
    """F12 — ``when`` cascade mapping extension → canonical type."""
    ext = file_extension(name)
    base = F.regexp_replace(ext, r"\.gz$", "")
    expr = None
    for e, t in SPECIAL_EXT_TYPES:
        cond = base == e
        expr = F.when(cond, F.lit(t)) if expr is None else expr.when(cond, F.lit(t))
    return expr.when(F.length(base) > 6, F.lit("txt")).otherwise(base)


def uniquify_filename(name: Column | str, md5: Column | str, is_dup: Column) -> Column:
    """F18 — duplicated filenames get ``last4(md5)_name``
    (src/s3_ccdi_to_sra.py:1297-1331)."""
    n, m = _c(name), _c(md5)
    return F.when(is_dup, F.concat(F.substring(m, -4, 4), F.lit("_"), n)).otherwise(n)


# ---------------------------------------------------------------------------
# Web-URL canonicalization (LLM-data op: crawl dedup keys).  A
# CommonCrawl-style corpus carries the same page under many spellings
# — scheme/host case, www. prefix, tracking query params, fragments,
# trailing slashes.  Canonicalizing BEFORE the dedup groupBy collapses
# them into one key.  All built-ins (regexp + split/filter HOFs), so
# the whole normalization is row-local codegen and the only wide op
# downstream is the dedup aggregation itself.
# ---------------------------------------------------------------------------

#: query parameters that never identify content (tracking/session).
#: Matched against the param NAME (the part before '='): the non-utm
#: entries match exactly — a prefix match would also strip content-
#: identifying params like refresh=/refid=/referrer= and collapse
#: distinct pages into one dedup key (false-positive drops).  Only the
#: utm_ family is an open-ended namespace and matches by prefix.
TRACKING_PARAMS = ("ref", "fbclid", "gclid", "mc_cid", "sessionid")
TRACKING_PREFIXES = ("utm_",)


def canonicalize_url(url: Column | str) -> Column:
    """Canonical dedup key for a web URL.

    Rules (each a deliberate, documented choice — the same set most
    crawl pipelines apply):

    - drop the ``#fragment``;
    - fold the scheme to ``http`` and lowercase it (https/http serve
      the same document in a crawl corpus);
    - lowercase the host and strip one leading ``www.``;
    - drop tracking query params (:data:`TRACKING_PARAMS` exact names
      + :data:`TRACKING_PREFIXES` name prefixes), keep the rest in
      their original order;
    - strip a trailing ``/`` from the path.
    """
    u = F.substring_index(_c(url), "#", 1)  # defragment
    base = F.substring_index(u, "?", 1)
    query = F.when(
        u.contains("?"), F.substring_index(u, "?", -1)
    ).otherwise(F.lit(""))
    # lowercase FIRST, then strip www. — the other order leaves an
    # uppercase "WWW." prefix intact (caught by the unit battery)
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$", 1),
        r"/$",
        "",
    )
    def _is_tracking(p):
        name = F.substring_index(p, "=", 1)
        exact = F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PARAMS]),
            lambda t: name == t,
        )
        pref = F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PREFIXES]),
            lambda t: name.startswith(t),
        )
        return exact | pref

    kept = F.filter(
        F.split(query, "&"), lambda p: (p != "") & ~_is_tracking(p)
    )
    qjoin = F.array_join(kept, "&")
    return F.concat(
        F.lit("http://"),
        host,
        path,
        F.when(qjoin != "", F.concat(F.lit("?"), qjoin)).otherwise(F.lit("")),
    )
