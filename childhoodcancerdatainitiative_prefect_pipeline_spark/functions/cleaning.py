"""Value-cleaning scalar functions (SURVEY.md §2.10: F1, F3-F6, F14).

These are the CatchERR-side rewrites: every helper returns a Column
expression (JVM-side, codegen-friendly) — no Python UDFs in the hot
path.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def trim_all(c: Column | str) -> Column:
    """F1 — strip leading/trailing whitespace (src/s3_catcherry.py:88)."""
    return F.trim(F.col(c) if isinstance(c, str) else c)


def strip_code_prefix(c: Column | str, pattern: str = r"^[^:]*\d[^:]*\s*:\s*") -> Column:
    """F3 — remove ``"9999/9 : "`` / ``"C##.# : "`` code prefixes.

    Reference: src/s3_catcherry.py:251-257, :278-304.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(col, pattern, "")


#: F4 — non-ASCII / SRA-hostile character substitutions
#: (src/s3_catcherry.py:600-639, src/s3_ccdi_to_sra.py:466-482).
CHAR_SUBSTITUTIONS: tuple[tuple[str, str], ...] = (
    ("®", ""),     # ®
    ("™", ""),     # ™
    ("©", ""),     # ©
    ("–", "-"),    # –
    ("—", "-"),    # —
    (" ", " "),    # NBSP
)


def substitute_chars(
    c: Column | str, subs: Sequence[tuple[str, str]] = CHAR_SUBSTITUTIONS
) -> Column:
    """F4 — chained literal replacements, applied in declared order.

    Order matters (SURVEY.md §7.4); the chain preserves the
    reference's sequential ``str.replace`` semantics.
    """
    col = F.col(c) if isinstance(c, str) else c
    for old, new in subs:
        col = F.replace(col, F.lit(old), F.lit(new))
    return col


def url_encode_spaces(c: Column | str) -> Column:
    """F4 — the reference's minimal URL encoding (space, comma, #).

    Reference: src/s3_catcherry.py:703-736.
    """
    col = F.col(c) if isinstance(c, str) else c
    col = F.replace(col, F.lit(" "), F.lit("%20"))
    col = F.replace(col, F.lit(","), F.lit("%2C"))
    return F.replace(col, F.lit("#"), F.lit("%23"))


def title_case_except(c: Column | str, keep_upper: Sequence[str] = ("AND", "OR", "NOS")) -> Column:
    """F5 — title-case but preserve listed all-caps tokens.

    Reference: workflows/data_catalog_stats.py:8-21.  Implemented as
    ``initcap`` + per-token restore via ``transform`` (no UDF).
    """
    col = F.col(c) if isinstance(c, str) else c
    toks = F.split(F.initcap(col), " ")
    keep = F.array(*[F.lit(k) for k in keep_upper])
    fixed = F.transform(
        toks,
        lambda t: F.when(F.array_contains(keep, F.upper(t)), F.upper(t)).otherwise(t),
    )
    return F.concat_ws(" ", fixed)


def map_values(
    c: Column | str, mapping: Mapping[str, str], unknown_value: str | None = None
) -> Column:
    """F6/F16 — hardcoded normalization maps as a ``when`` chain.

    Reference: src/s3_ccdi_to_sra.py:485-722 (platform/layout/
    selection rewrites with unknown→OTHER), src/s3_ccdi_to_dbgap.py:213-226
    (sex encodings).  For map tables beyond ~100 entries prefer the
    broadcast lookup join.
    """
    col = F.col(c) if isinstance(c, str) else c
    expr: Column | None = None
    for old, new in mapping.items():
        cond = col == old
        expr = F.when(cond, F.lit(new)) if expr is None else expr.when(cond, F.lit(new))
    if expr is None:
        return col
    if unknown_value is not None:
        return expr.otherwise(F.lit(unknown_value))
    return expr.otherwise(col)


def pad_description(c: Column | str, min_len: int = 250) -> Column:
    """F14 — right-pad to ≥min_len chars then terminate with '.'.

    Reference: src/s3_ccdi_to_sra.py:238-252.
    """
    col = F.coalesce(F.col(c) if isinstance(c, str) else c, F.lit(""))
    return F.concat(F.rpad(col, min_len, " "), F.lit("."))


def sort_delimited_cell(c: Column | str, sep: str = ";") -> Column:
    """O4 — sort a ';'-list cell case-insensitively.

    Reference: src/s3_catcherry.py:459-469 (casefolded sort).  Sorts
    (lower(x), x) pairs then projects the original casing back.
    """
    col = F.col(c) if isinstance(c, str) else c
    pairs = F.transform(
        F.split(col, sep), lambda x: F.struct(F.lower(x).alias("k"), x.alias("v"))
    )
    return F.concat_ws(sep, F.transform(F.array_sort(pairs), lambda p: p["v"]))


#: F17 — honorifics the reference strips when parsing personnel names
#: (src/s3_ccdi_to_cds.py:878-934).
HONORIFICS: tuple[str, ...] = ("Dr.", "Mr.", "Mrs.", "Ms.", "Prof.")


def parse_person_name(c: Column | str) -> Column:
    """F17 — split a display name into (title, first, middle, last).

    Reference: src/s3_ccdi_to_cds.py:878-934.  Pure array ops: strip
    a leading honorific, then first/last by position and middle only
    for 3-token remainders.  Returns a struct column.
    """
    col = F.col(c) if isinstance(c, str) else c
    toks = F.split(F.trim(col), r"\s+")
    hon = F.array(*[F.lit(h) for h in HONORIFICS])
    has_title = F.array_contains(hon, F.element_at(toks, 1))
    rest = F.when(has_title, F.slice(toks, 2, F.size(toks) - 1)).otherwise(toks)
    n = F.size(rest)
    return F.struct(
        F.when(has_title, F.element_at(toks, 1)).alias("title"),
        F.when(n >= 1, F.element_at(rest, 1)).alias("first_name"),
        F.when(n >= 3, F.element_at(rest, 2)).alias("middle_name"),
        F.when(n >= 2, F.element_at(rest, -1)).alias("last_name"),
    )
