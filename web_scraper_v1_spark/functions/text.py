"""Text-analysis column expressions for the training-data pipeline layer.

The reference's only text processing is prefix-stripping line extraction
(/root/reference/internal/parser/receiver_response_parser.go:18-37) and a
declared-but-unused keyword filter (config/config.go:127-133, SURVEY.md O23).
A 100 TB web-text engine needs more: tokenization, language ID, quality
scoring, fingerprinting — implemented here as pure built-in Column
expressions (JVM-side, whole-stage codegen; zero Python in the hot path).

Every function has an exact ANSI-SQL twin used by the DuckDB oracle in
``__spark_entry__.py`` — expressions are deliberately restricted to
constructs with identical semantics in Spark SQL and DuckDB (trimmed input
before regex splits, explicit casts before divisions, 'g'-flag replaces on
the DuckDB side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer shared by everything below (BPE-ish refinement is in
# bpe_ish_token_count). Input is trimmed first so no empty tokens appear at
# either end in either engine.
TOKEN_SPLIT_RX = r"\s+"

# Small fixed stopword list (quality scoring + language ID). Kept tiny and
# hard-coded so the oracle SQL can inline the identical list.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")

# Marker-word lists for the n-gram language-ID heuristic. Deterministic
# precedence order for argmax tie-breaks (first wins).
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "of", "and", "is")),
    ("de", ("der", "die", "das", "und", "ist")),
    ("es", ("el", "la", "de", "y", "es")),
    ("fr", ("le", "la", "et", "est", "les")),
    ("zh", ("的", "是", "了", "在", "和")),
)

PUNCT_CLASS = r"[^.,;:!?]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased, trimmed text.
    DuckDB twin: regexp_split_to_array(trim(lower(text)), '\\s+')."""
    return F.split(F.trim(F.lower(text)), TOKEN_SPLIT_RX)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def word_shingles(tok: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a token array; empty array when the doc has
    fewer than n tokens (guarded — Spark's sequence(1, k) with k<1 would
    produce a *descending* sequence).
    DuckDB twin: list_distinct([w[i]||' '||...  for i in range(1, len(w)-n+2)]).
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tok) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(tok) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def stopword_ratio(tok: Column) -> Column:
    """Fraction of tokens in STOPWORDS_EN; exact int/int double division so
    the oracle's value is bit-identical."""
    hits = F.size(
        F.filter(tok, lambda t: t.isin(*STOPWORDS_EN))
    )
    return hits.cast("double") / F.size(tok).cast("double")


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars. DuckDB twin needs the 'g' flag:
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)."""
    p = F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return p.cast("double") / F.length(text).cast("double")


def quality_score(text: Column) -> Column:
    """Composite heuristic in [0,1]: length saturation x (1 - stopword
    excess) x (1 - punctuation excess). All terms are exact-rational or
    single-rounding doubles, so Spark and DuckDB agree bitwise given the
    same formula text."""
    tok = tokens(text)
    len_term = F.least(
        F.size(tok).cast("double") / F.lit(64.0), F.lit(1.0)
    )
    stop_term = F.lit(1.0) - F.least(
        stopword_ratio(tok) * F.lit(2.0), F.lit(1.0)
    )
    punct_term = F.lit(1.0) - F.least(
        punct_ratio(text) * F.lit(4.0), F.lit(1.0)
    )
    return F.round(len_term * stop_term * punct_term, 6)


def lang_id(text: Column) -> Column:
    """Argmax over marker-hit counts with deterministic precedence
    (LANG_MARKERS order; strict > so earlier languages win ties). Returns
    'und' when no marker hits at all.

    Scores count DISTINCT marker types present (array_intersect — a native
    collection op, ~10x faster than an interpreted filter lambda per
    language).

    STRUCTURE MATTERS: the token array and the 5-score array are each
    bound ONCE as higher-order-function lambda variables before the
    argmax fold runs over cheap element accesses. A naive fold over the
    raw score expressions repeats each intersect subtree ~15x in the
    final CASE (~87 split/intersect nodes); whole-stage codegen's runtime
    subexpression elimination hides that, but any context that falls back
    to interpreted evaluation (join-stage codegen over 64KB, filter
    pushdown duplication) pays every copy per row — measured 10-20x on
    the stratified-sampling query before this binding."""
    scored = F.transform(
        F.array(F.array_distinct(tokens(text))),
        lambda tok: F.array(
            *[
                F.size(
                    F.array_intersect(
                        tok, F.array(*[F.lit(m) for m in markers])
                    )
                )
                for _lang, markers in LANG_MARKERS
            ]
        ),
    )

    def _decide(s: Column) -> Column:
        best_lang = F.lit(LANG_MARKERS[0][0])
        best_score = s[0]
        for i, (lang, _markers) in enumerate(LANG_MARKERS):
            if i == 0:
                continue
            is_better = s[i] > best_score
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(is_better, s[i]).otherwise(best_score)
        return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))

    return F.transform(scored, _decide)[0]


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND on
    letter/digit/other boundaries (a cheap BPE stand-in for cost
    estimation). DuckDB twin uses the identical regex with
    regexp_split_to_array."""
    rx = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    return F.size(
        F.regexp_extract_all(F.trim(F.lower(text)), F.lit(rx), 0)
    ).cast("long")


def normalize_for_fingerprint(text: Column) -> Column:
    """Canonical text form for exact-dup fingerprinting: lowercase, collapse
    all whitespace runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Deterministic 128-bit document fingerprint (hex) of the normalized
    text — the exact-dedup key. DuckDB twin: md5(<same normalization>)."""
    return F.md5(F.encode(normalize_for_fingerprint(text), "UTF-8"))


def winnow_fingerprints(
    text: Column, k: int = 8, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): the
    min rolling k-gram hash per sliding window, deduplicated — the
    plagiarism-detection-style sketch used for partial-overlap detection
    (complements the whole-doc md5 and the shingle-set MinHash).

    Rolling hash is a custom sketch Spark lacks -> vectorized Arrow UDF
    (numpy stride tricks; no per-row Python loops over characters)."""

    @F.pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            b = np.frombuffer(
                " ".join(t.strip().lower().split()).encode("utf-8"),
                dtype=np.uint8,
            )
            if len(b) < k:
                out.append([])
                continue
            # polynomial k-gram hashes, fully vectorized:
            # windows via stride tricks, dot with base powers mod 2^61-1
            wins = np.lib.stride_tricks.sliding_window_view(b, k)
            powers = np.power(
                np.uint64(257),
                np.arange(k, dtype=np.uint64)[::-1],
                dtype=np.uint64,
            )
            kh = (wins.astype(np.uint64) * powers).sum(
                axis=1, dtype=np.uint64
            )
            if len(kh) < window:
                picks = np.array([kh.min()], dtype=np.uint64)
            else:
                ww = np.lib.stride_tricks.sliding_window_view(kh, window)
                picks = ww.min(axis=1)
            out.append(
                np.unique(picks.astype(np.int64)).tolist()
            )
        return pd.Series(out)

    return _winnow(text)


# UTF-8-bytes-misread-as-cp1252 mojibake pairs (the ftfy-canon repair,
# public algorithm: each clean char's UTF-8 byte sequence, decoded as
# cp1252, yields its mojibake form — derived, not hand-typed, so the
# table cannot drift). Extend the char list to widen coverage; chars
# whose UTF-8 bytes hit cp1252's five undefined codepoints (0x81 0x8D
# 0x8F 0x90 0x9D, e.g. RIGHT DOUBLE QUOTATION MARK) cannot round-trip
# and are excluded by construction.
_MOJIBAKE_CHARS = ("é", "à", "—", "ï", "ü", "ñ", "’")
MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = tuple(
    (c.encode("utf-8").decode("cp1252"), c) for c in _MOJIBAKE_CHARS
)


def repair_mojibake(text: Column) -> Column:
    """Chained literal replaces, longest-first registration order fixed
    by the pair table — pure whole-stage-codegen Column ops, zero
    shuffle, and the identical nest is replayable as SQL ``replace``
    nesting (mojibake_sql_expr) so the oracle is exact."""
    out = text
    for moji, clean in MOJIBAKE_PAIRS:
        out = F.replace(out, F.lit(moji), F.lit(clean))
    return out


def mojibake_sql_expr(inner: str) -> str:
    """The same repair chain as DuckDB SQL text over expression
    ``inner`` — generated from MOJIBAKE_PAIRS, the single source of
    truth."""
    expr = inner
    for moji, clean in MOJIBAKE_PAIRS:
        expr = "replace({}, '{}', '{}')".format(
            expr, moji.replace("'", "''"), clean.replace("'", "''")
        )
    return expr
