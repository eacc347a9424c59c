"""Text-analysis operators for training-data curation.

Language ID (stopword-profile scoring), quality scoring, token
counting, and document fingerprinting — all as built-in-function
Column expressions over a text column.  Everything is row-local
(no shuffle) and codegen'd; a 100 TB corpus pays exactly one scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_tokens, shingles

#: Minimal stopword profiles for the n-gram/stopword language
#: heuristic.  Real deployments would broadcast a richer profile
#: table; the operator shape is identical.
STOPWORD_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "für", "ein", "nicht"),
    "fr": ("le", "la", "les", "de", "et", "est", "un", "une", "pour", "dans"),
    "es": ("el", "la", "los", "de", "y", "es", "un", "una", "por", "para"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"),
}

ENGLISH_STOPWORDS = STOPWORD_PROFILES["en"]


def token_count(text: Column | str) -> Column:
    """Whitespace token count (``regexp_extract_all(\\S+)`` length)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"\S+"), 0))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: words + digits + punctuation runs.

    The regex mirrors common BPE pre-tokenizers (letter runs, digit
    runs, single punctuation marks each count as ≥1 token).
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def stopword_ratio_of(
    toks: Column, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS
) -> Column:
    """Stopword fraction over a pre-staged token array column."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, n_stop.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    """Fraction of tokens that are (given-language) stopwords."""
    return stopword_ratio_of(normalized_tokens(text), stopwords)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    return F.when(
        F.length(c) > 0, n_punct.cast("double") / F.length(c)
    ).otherwise(F.lit(0.0))


def mean_word_length_of(toks: Column) -> Column:
    """Mean token length over a pre-staged token array column."""
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    scale: int = 6,
    tokens_col: str | None = None,
) -> DataFrame:
    """Quality-scoring feature battery: one projection, all metrics.

    length / token count / stopword ratio / punct ratio / mean word
    length — the standard heuristics used to filter web-scraped
    training text.  Ratios round to ``scale`` for cross-engine
    reproducibility.

    Pass ``tokens_col`` (a column staged with ``normalized_tokens``)
    when composing with other token consumers — Catalyst does NOT
    CSE expressions inside HOF lambdas, so an un-staged composition
    re-tokenizes the text once per metric (SCALE.md, staging rule).
    """
    t = F.col(text_col)
    toks = F.col(tokens_col) if tokens_col else normalized_tokens(t)
    return df.withColumns(
        {
            "n_chars_computed": F.length(t).cast("long"),
            "n_tokens": token_count(t).cast("long"),
            "stopword_ratio": F.round(stopword_ratio_of(toks), scale),
            "punct_ratio": F.round(punct_ratio(t), scale),
            "mean_word_len": F.round(mean_word_length_of(toks), scale),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar [0,1] quality score from the feature battery.

    A transparent linear rubric (not a model): reward stopword
    presence and sane word lengths, punish extreme punctuation.
    """
    feats = quality_features(df, text_col)
    score = (
        F.lit(0.4) * F.least(F.col("stopword_ratio") * 4, F.lit(1.0))
        + F.lit(0.3)
        * F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 1.0).otherwise(0.3)
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0)))
    )
    return feats.withColumn("quality_score", F.round(score, 6))


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, tuple[str, ...]] = STOPWORD_PROFILES,
    out_col: str = "lang_pred",
    tokens_col: str | None = None,
) -> DataFrame:
    """Language ID by stopword-profile scoring.

    Scores every profile in one projection (an array of (lang, hits)
    structs), picks the argmax with deterministic tie-break on lang
    code, 'und' when nothing matches.  Row-local; the profile table
    is compiled into the expression (broadcast-join variant scales to
    large profiles).
    """
    toks = F.col(tokens_col) if tokens_col else normalized_tokens(F.col(text_col))
    entries = []
    for lang in sorted(profiles):
        sw = F.array(*[F.lit(s) for s in profiles[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        entries.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    arr = F.array(*entries)
    # explicit fold → on tied hit counts the alphabetically-first
    # language (array order) wins, deterministically
    first_wins = F.aggregate(
        arr,
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lang")),
        lambda acc, e: F.when(e["hits"] > acc["hits"], e).otherwise(acc),
    )
    pred = F.when(first_wins["hits"] > 0, first_wins["lang"]).otherwise(F.lit("und"))
    return df.withColumn(out_col, pred)


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    out_col: str = "fingerprint",
) -> DataFrame:
    """Document fingerprint: min-hash of character-level k-gram hashes.

    A winnowing-style content fingerprint — the minimum ``xxhash64``
    over word 5-gram shingles — stable under whitespace changes,
    cheap to compare for containment clustering.
    """
    from .dedup import with_shingles

    staged = with_shingles(df, text_col, "__fp_sh__", shingle_k)
    fp = F.array_min(
        F.transform(F.col("__fp_sh__"), lambda s: F.xxhash64(s))
    )
    return staged.withColumn(out_col, fp).drop("__fp_sh__")


def word_ngrams_expr(tokens_col: str, n: int) -> Column:
    """Overlapping word n-grams from a STAGED token-array column.

    ``transform`` with the positional lambda over the first
    ``size - (n-1)`` tokens — row-local, no explode, codegen'd.
    Requires a bound column NAME (not an expression) so the array is
    evaluated once (HOF-CSE staging rule, SCALE.md).
    """
    if n < 2:
        return F.col(tokens_col)
    # one slice + concat_ws per gram instead of n-1 element_at calls
    # — measured 3x faster at the 10x probe (16 s -> 5.3 s for the
    # 5-gram explode over 50k docs).  sequence() is guarded by the
    # CASE because sequence(1, 0) counts DOWN; short arrays must
    # yield [] (multiplicity preserved — distinctness is the
    # caller's choice).
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"transform(sequence(1, size({tokens_col}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({tokens_col}, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def max_element_run(arr: Column) -> Column:
    """Largest multiplicity of any element in an array (row-local).

    Sort, then a single ``aggregate`` fold tracking the current and
    best run length — O(n log n) per row with NO shuffle, where the
    naive explode→groupBy→max costs a full shuffle per n-gram.  Used
    for Gopher-style "top n-gram fraction" repetition filters.
    """
    s = F.sort_array(arr)
    run = lambda acc, x: (  # noqa: E731 — shared subexpression
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    )
    return F.aggregate(
        s,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def token_entropy(toks: Column) -> Column:
    """Shannon entropy of a token multiset — row-local, shuffle-free.

    entropy = ln(n) − (Σ c_i·ln c_i)/n over per-token counts c_i.
    One sort + one fold per row (the ``max_element_run`` pattern):
    runs of equal tokens in the sorted array contribute run·ln(run)
    when they close.  The naive explode→groupBy→agg pays a corpus
    shuffle for what is a per-row statistic; this never leaves the
    row.  Accumulation follows sorted-token order, so an oracle
    summing an ORDER BY token list reproduces the double bit-for-bit.
    """
    s = F.sort_array(toks)
    n = F.size(toks)
    run = lambda acc, x: (  # noqa: E731 — shared subexpression
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    )
    close = lambda acc, x: (  # noqa: E731 — add closed run's c·ln c
        F.when(
            (x != acc["prev"]) & (acc["run"] > 0),
            acc["acc"] + acc["run"] * F.log(acc["run"].cast("double")),
        ).otherwise(acc["acc"])
    )
    folded = F.aggregate(
        s,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("acc"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"), run(acc, x).alias("run"), close(acc, x).alias("acc")
        ),
        lambda acc: acc["acc"]
        + F.when(
            acc["run"] > 0, acc["run"] * F.log(acc["run"].cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    return F.when(n > 0, F.log(n.cast("double")) - folded / n).otherwise(F.lit(0.0))


#: html strip battery — (pattern, replacement) applied in order; the
#: DuckDB oracle runs the identical chain (RE2 and java.util.regex
#: agree on these patterns: inline (?is) flags, lazy quantifiers)
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
)

#: entity decode map (applied after tag removal, longest-first so
#: &amp; doesn't re-expand pieces of other entities)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)


def html_strip(html: Column | str) -> Column:
    """Boilerplate removal: drop script/style/comment blocks, strip
    tags, decode common entities, collapse whitespace.

    The trafilatura/jusText shape without the DOM walk — a pure
    regexp_replace chain (row-local, codegen, one scan at any corpus
    size).  Entity decode is plain ``replace`` (no regex), applied
    AFTER tag stripping so literal ``&lt;tag&gt;`` text can't be
    eaten as markup.
    """
    c = F.col(html) if isinstance(html, str) else html
    for pat, rep in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_strip_sql(col: str) -> str:
    """DuckDB twin of :func:`html_strip` (note RE2 needs the 'g'
    option for global replacement; java regex is global by default)."""
    s = col
    for pat, rep in HTML_STRIP_STEPS:
        p = pat.replace("'", "''")
        s = f"regexp_replace({s}, '{p}', '{rep}', 'g')"
    for ent, rep in HTML_ENTITIES:
        r = rep.replace("'", "''")
        s = f"replace({s}, '{ent}', '{r}')"
    return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"
