"""Byte-pair-encoding tokenization — trainer and two appliers.

Additive LLM-data-pipeline capability (no reference analog): real
BPE (Sennrich et al. 2016, the tokenizer family behind GPT-2/LLaMA
vocabularies), not the regex token-count estimate in
:mod:`.text`.  Three pieces:

1. :func:`bpe_train` — the trainer, as a driver-coordinated loop of
   DataFrame aggregations.  The classic trainer optimization applies:
   merges are learned from the (distinct word, frequency) table, not
   the corpus, so a 100 TB corpus collapses to a vocabulary-sized
   frame after ONE scan + ONE groupBy.  Each merge round is one
   explode→groupBy→argmax over that table (distributed, partial-agg
   combinable) plus one row-local fold to rewrite symbol arrays.
2. :func:`bpe_apply_expr` — the apply, as a PURE Column expression:
   each learned merge in rank order becomes one ``replace`` over a
   separator-guarded symbol string.  This is exactly the subword-nmt
   apply algorithm (apply merges in learned order, each globally
   left-to-right), runs inside whole-stage codegen, and is
   oracle-checkable in any SQL engine with ``replace``.  Right choice
   for small/medium merge tables (≤ a few hundred).
3. :func:`bpe_encode_batches` — the apply for realistic 30-50k-merge
   vocabularies, as an Arrow-batched ``mapInPandas`` stage with the
   rank table broadcast once per executor and per-word memoization
   (Zipf makes the cache hit rate ~99%).  Chained ``replace`` at 50k
   merges would mean 50k expression nodes; this is the case the
   "UDFs are the slow path" rule carves out.

Both appliers implement the same function; tests pin them equal to
each other and to an independent pure-python reference encoder.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: symbol separator for the spaced representation — a control char
#: that never appears in pre-tokenized words
SEP = "\x01"

#: GPT-2-ish pre-tokenizer: letter runs, digit runs, single
#: punctuation marks (mirrors text.bpe_ish_token_count).
#: Dialect note: this regex runs in java.util.regex (Spark), RE2
#: (DuckDB oracle), and Python re (Arrow encoder).  ``\s`` is
#: ASCII-only in Java by default, so the Python side compiles with
#: re.ASCII to match; RE2's ``\s`` omits vertical tab (U+000B) — the
#: one character on which the oracle could disagree — which real
#: corpora should normalize away before tokenizing.
PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: end-of-word marker so merges can't cross word boundaries and the
#: learned vocab distinguishes "low" from "lower"'s prefix
EOW = "\x02"


@dataclass(frozen=True)
class Merge:
    rank: int
    left: str
    right: str

    @property
    def merged(self) -> str:
        return self.left + self.right


def _word_freqs(
    corpus: DataFrame, text_col: str, max_words: int | None
) -> DataFrame:
    """corpus → (word, freq): the one corpus-sized pass."""
    words = corpus.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(PRETOKEN_RE), 0)
        ).alias("word")
    )
    freqs = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if max_words is not None:
        # prune the long tail for training tractability (SentencePiece
        # does the same); deterministic tie-break on the word itself
        freqs = freqs.orderBy(F.desc("freq"), "word").limit(max_words)
    return freqs


def bpe_train(
    corpus: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    max_words: int | None = 10000,
) -> list[Merge]:
    """Learn ``n_merges`` BPE merges from a corpus.

    Scale shape: after :func:`_word_freqs` the working frame is the
    word vocabulary (weights carried as ``freq``), persisted and
    rewritten row-locally each round.  Per round: one
    explode+groupBy shuffle over pair counts (map-side combinable,
    output ≤ |pairs|) and one driver ``first()`` for the argmax.
    Lineage is cut with ``localCheckpoint`` every 10 rounds so
    50k-merge runs don't build a 50k-deep plan.  Ties break on (freq
    desc, pair lexicographic) so training is deterministic regardless
    of partitioning.
    """
    spark = corpus.sparkSession
    freqs = _word_freqs(corpus, text_col, max_words)
    syms = freqs.select(
        F.concat(
            F.split(F.col("word"), "(?!$)"),  # chars
            F.array(F.lit(EOW)),
        ).alias("syms"),
        "freq",
    ).persist()
    syms.count()

    merges: list[Merge] = []
    for rank in range(n_merges):
        pairs = (
            syms.select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), "left", "right").first()
        if best is None or best["n"] < 2:
            break
        m = Merge(rank, best["left"], best["right"])
        merges.append(m)

        # rewrite every word's symbol array with one row-local fold:
        # append, but when (last == left AND cur == right) replace the
        # last element with the merged symbol — left-to-right
        # non-overlapping, exactly the trainer's merge semantics
        left, right = F.lit(m.left), F.lit(m.right)
        merged = F.lit(m.merged)
        fold = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == left)
                & (s == right),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        nxt = syms.select(fold.alias("syms"), "freq").persist()
        if (rank + 1) % 10 == 0:
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt.count()
        syms.unpersist()
        syms = nxt
    syms.unpersist()
    return merges


def merges_table(spark: SparkSession, merges: list[Merge]) -> DataFrame:
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.merged) for m in merges],
        "rank int, left string, right string, merged string",
    )


#: every symbol boundary carries TWO separators: a merge match
#: consumes one from each side, leaving one to seed the adjacent
#: match — plain non-overlapping ``replace`` then behaves exactly
#: like the left-to-right single-pass merge ("the the the" merges
#: all three words, not every other one)
SEP2 = SEP + SEP


def _spaced(word: Column) -> Column:
    """word → double-SEP-guarded symbol string:
    ``||c||h||…||<eow>||`` with ``|`` = ``\\x01``."""
    chars = F.concat(F.split(word, "(?!$)"), F.array(F.lit(EOW)))
    return F.concat(
        F.lit(SEP2), F.array_join(chars, SEP2), F.lit(SEP2)
    )


def bpe_apply_expr(
    word: Column, merges: list[tuple[str, str]] | list[Merge]
) -> Column:
    """Encode one (lowercased, pre-tokenized) word: array<string> of
    BPE tokens, as a pure codegen expression.

    Each merge in rank order is one ``replace(s, SEP a SEP2 b SEP,
    SEP ab SEP)`` over the double-separator representation.  The
    guards mean a match requires exact symbol boundaries (a
    trailing-substring symbol like ``xa`` can never satisfy a
    ``\\x01a`` prefix — the char before ``a`` would have to be a
    separator), and because a match consumes only the INNER half of
    each boundary, adjacent occurrences still match — reproducing the
    left-to-right single-pass merge exactly.  SQL-portable: the
    DuckDB oracle runs the same chain.
    """
    s = _spaced(word)
    for m in merges:
        left, right = (m.left, m.right) if isinstance(m, Merge) else m
        s = F.replace(
            s,
            F.lit(f"{SEP}{left}{SEP2}{right}{SEP}"),
            F.lit(f"{SEP}{left + right}{SEP}"),
        )
    return F.filter(
        F.split(s, SEP), lambda t: t != F.lit("")
    )


def sql_lit(s: str) -> str:
    """SQL expression for a string that may contain control chars —
    printable runs stay quoted literals, control chars become
    ``chr(n)`` so the oracle text is transport-safe."""
    parts: list[str] = []
    run = ""
    for ch in s:
        if ord(ch) < 32:
            if run:
                parts.append("'" + run.replace("'", "''") + "'")
                run = ""
            parts.append(f"chr({ord(ch)})")
        else:
            run += ch
    if run:
        parts.append("'" + run.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def bpe_apply_sql(
    merges: list[tuple[str, str]] | list[Merge], col: str = "w"
) -> str:
    """The DuckDB twin of :func:`bpe_apply_expr` over a column already
    in spaced form — returns a chained-``replace`` expression string."""
    s = col
    for m in merges:
        left, right = (m.left, m.right) if isinstance(m, Merge) else m
        pat = sql_lit(f"{SEP}{left}{SEP2}{right}{SEP}")
        rep = sql_lit(f"{SEP}{left + right}{SEP}")
        s = f"replace({s}, {pat}, {rep})"
    return s


def doc_spaced(text: Column | str) -> Column:
    """Whole document → one SEP-guarded symbol string.

    Words are concatenated, each ending with its EOW symbol; no
    learned merge has a left symbol containing EOW (EOW is always
    word-final during training), so merges cannot cross word
    boundaries and the doc-level chain equals per-word application.
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.regexp_extract_all(F.lower(c), F.lit(PRETOKEN_RE), 0)
    word_repr = lambda w: F.concat(  # noqa: E731
        F.array_join(
            F.concat(F.split(w, "(?!$)"), F.array(F.lit(EOW))), SEP2
        ),
        F.lit(SEP2),
    )
    return F.concat(F.lit(SEP2), F.array_join(F.transform(words, word_repr), ""))


def tokenize_doc_expr(
    text: Column | str, merges: list[tuple[str, str]] | list[Merge]
) -> Column:
    """Document → BPE token array via ONE doc-level replace chain
    (the oracle-twin formulation of :func:`tokenize_expr`)."""
    s = doc_spaced(text)
    for m in merges:
        left, right = (m.left, m.right) if isinstance(m, Merge) else m
        s = F.replace(
            s,
            F.lit(f"{SEP}{left}{SEP2}{right}{SEP}"),
            F.lit(f"{SEP}{left + right}{SEP}"),
        )
    return F.filter(F.split(s, SEP), lambda t: t != F.lit(""))


def tokenize_expr(
    text: Column | str, merges: list[tuple[str, str]] | list[Merge]
) -> Column:
    """Document → flat array of BPE tokens (codegen path).

    Pre-tokenize, then ``flatten(transform(words, encode))`` — fully
    row-local, no shuffle, one scan for any corpus size.
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.regexp_extract_all(F.lower(c), F.lit(PRETOKEN_RE), 0)
    return F.flatten(F.transform(words, lambda w: bpe_apply_expr(w, merges)))


def bpe_encode_batches(
    df: DataFrame,
    merges: list[Merge],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "tokens",
):
    """Arrow-batched greedy encoder for large merge tables.

    The ranks dict rides the closure (one broadcast per executor, not
    per row); per-word results are memoized because Zipf's law makes
    the same few thousand words carry most of the mass.  Classic
    lowest-rank-first greedy merge — provably equivalent to applying
    merges in rank order (tests pin it against both the codegen
    applier and an independent reference encoder).
    """
    import re

    ranks = {(m.left, m.right): m.rank for m in merges}
    # re.ASCII: match java.util.regex's default ASCII-only \s / \w so
    # the Arrow encoder agrees with the codegen twin on non-ASCII
    # whitespace like U+00A0
    pretoken = re.compile(PRETOKEN_RE, re.ASCII)
    schema = f"{id_col} long, {out_col} array<string>"

    def encode_word(word: str, cache: dict) -> list[str]:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word) + [EOW]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = syms
        return syms

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks = [
                None
                if x is None
                else [
                    t
                    for w in pretoken.findall(str(x).lower())
                    for t in encode_word(w, cache)
                ]
                for x in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: toks})

    return df.select(id_col, text_col).mapInPandas(run, schema)
