"""Text-analysis column expressions (language ID, quality, tokens,
fingerprints) — all JVM-side ``pyspark.sql.functions`` compositions; no
Python UDFs, so they vectorize inside whole-stage codegen and scale
per-row with zero shuffle.

Hashes are md5-hex based so an external engine (the DuckDB oracle) can
reproduce them bit-for-bit; ``hash60`` folds the first 15 hex chars into
a 60-bit integer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from de_polars_spark.functions.local_relation import literal_column

#: regex with no backslash escapes — identical source text works in both
#: Spark (Java regex) and DuckDB (RE2)
WORDLIKE_PATTERN = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic (language ID over token overlap; 'und' when nothing matches)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "en", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, " "), lambda x: x != F.lit(""))


def ngrams(text: Column, n: int) -> Column:
    """The word ``n``-grams of ``text`` in order, as ``array<string>``:
    the ``n``-token windows of :func:`tokens`, joined by one space. A text
    with fewer than ``n`` tokens gives an empty array, NULL gives NULL.

    One overlapping lookahead over the space-padded, space-collapsed text:
    each single space opens exactly one window, so the grams come out per
    row with no window function (no shuffle) and stay in whole-stage
    codegen. The pattern is a literal, compiled once per task."""
    if n < 1:
        raise ValueError(f"n={n}: an n-gram has at least one word")
    pattern = "(?= ([^ ]+" + "(?: [^ ]+)" * (n - 1) + ") )"
    spaced = F.regexp_replace(
        F.concat(F.lit(" "), text, F.lit(" ")), F.lit(" +"), F.lit(" ")
    )
    return F.regexp_extract_all(spaced, F.lit(pattern), 1)


def hash60(s: Column) -> Column:
    """60-bit integer hash reproducible in any md5-capable engine."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def _stopword_count(toks: Column, words: Column) -> Column:
    """Number of tokens found in the array column ``words``."""
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))


def predict_lang(text: Column) -> Column:
    """argmax language by stopword overlap; 'und' when all scores are 0.

    Deterministic tie-break: languages checked in sorted order, strict
    greater-than required to displace the current best. The stopword
    table is one parsed literal (``literal_column``) and the argmax one
    fold over it: the build costs the same py4j round trips for any
    number of languages and words, and each score is evaluated once per
    row (an unrolled CASE chain repeats each score ~2^n times in the
    expression tree)."""
    toks = tokens(text)
    table = literal_column(
        [{"lang": lang, "words": list(STOPWORDS[lang])} for lang in sorted(STOPWORDS)]
    )
    scores = F.transform(
        table,
        lambda row: F.struct(
            row["lang"].alias("lang"), _stopword_count(toks, row["words"]).alias("s")
        ),
    )
    start = literal_column({"lang": "und", "s": 0}, "struct<lang:string,s:int>")
    return F.aggregate(
        scores, start, lambda best, x: F.when(x["s"] > best["s"], x).otherwise(best)
    )["lang"]


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punctuation/stopword/diversity features for quality scoring."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit("[^A-Za-z0-9 ]"), 0))
    en_stop = _stopword_count(toks, literal_column(STOPWORDS["en"]))
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "distinct_ratio": F.round(n_distinct / F.nullif(n_tok.cast("double"), F.lit(0.0)), 6),
        "avg_token_len": F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
            / F.nullif(n_tok.cast("double"), F.lit(0.0)),
            6,
        ),
        "punct_ratio": F.round(n_punct / F.nullif(n_chars.cast("double"), F.lit(0.0)), 6),
        "stopword_ratio": F.round(en_stop / F.nullif(n_tok.cast("double"), F.lit(0.0)), 6),
    }


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + diversity +
    punctuation sanity (the reference's quality idiom is CASE-bucket
    scoring, e.g. allocation.py tag-compliance roll-ups)."""
    f = quality_features(text)
    length_score = (
        F.when((f["n_tokens"] >= 20) & (f["n_tokens"] <= 1000), F.lit(0.4))
        .when(f["n_tokens"] >= 5, F.lit(0.2))
        .otherwise(F.lit(0.0))
    )
    diversity_score = F.when(f["distinct_ratio"] >= 0.5, F.lit(0.3)).otherwise(
        F.round(f["distinct_ratio"] * 0.6, 6)
    )
    punct_score = F.when(f["punct_ratio"] <= 0.2, F.lit(0.3)).otherwise(F.lit(0.1))
    return F.round(length_score + diversity_score + punct_score, 6)


def wordlike_token_count(text: Column) -> Column:
    """BPE-ish token proxy: words and single non-alnum marks."""
    return F.size(F.regexp_extract_all(text, F.lit(WORDLIKE_PATTERN), 0))


def sorted_word_fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set (near-dup docs with shuffled word order collide)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def normalize_text(text: Column) -> Column:
    """Canonical text form for hashing/dedup: lowercase, all whitespace
    runs collapsed to single spaces, leading/trailing space stripped.
    Pure per-row expression (codegen), identical semantics in DuckDB via
    ``trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))``."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
