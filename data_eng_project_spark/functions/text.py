"""Text expression helpers for the documents table — tokenization, counting,
quality signals. Everything is built-in-function based (JVM-side); the only
array-producing step is ``split``, which whole-stage codegen handles.

Oracle-parity note: substring-occurrence counts use the
``(len(s) - len(replace(s, p, ''))) / len(p)`` identity, which is pure ANSI
SQL and therefore bit-identical between Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram language-ID heuristic.
# Padded with spaces so they match as whole words inside running text.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of "),
    "es": (" el ", " la ", " que "),
    "fr": (" le ", " et ", " les "),
    "de": (" der ", " und ", " die "),
    "zh": (" de ", " shi ", " bu "),
}

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def substr_count(col: Column | str, needle: str) -> Column:
    """Occurrences of a literal substring (ANSI-replace identity).

    NB: ``replace`` counts NON-OVERLAPPING occurrences — callers counting
    space-delimited words must go through ``padded_for_counting`` /
    ``PADDED_SQL`` (doubled spaces) or immediately repeated words
    undercount (' the the the ' holds two non-overlapping ' the ')."""
    c = _c(col)
    return (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / len(needle)


def substr_count_sql(expr: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return f"(length({expr}) - length(replace({expr}, '{esc}', ''))) / {len(needle)}"


# Doubling every space gives each space-delimited word its own pair of
# delimiters, so ' w ' matches are disjoint and the non-overlapping
# replace identity counts every occurrence — including immediate repeats
# ('the the the' counts 3, not 2). Spark expression and DuckDB SQL are
# the same computation; keep them adjacent so they cannot drift.
PADDED_SQL = "replace((' ' || lower(text) || ' '), ' ', '  ')"


def padded_for_counting(col: Column | str) -> Column:
    """Lowercased text padded with spaces and every space doubled — the
    canonical haystack for whole-word ``substr_count`` (see PADDED_SQL)."""
    p = F.concat(F.lit(" "), F.lower(_c(col)), F.lit(" "))
    return F.replace(p, F.lit(" "), F.lit("  "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>.

    Cross-engine caveat (documented corpus assumption): Java's ``\\s``
    is ``[ \\t\\n\\x0B\\f\\r]`` while DuckDB's RE2 ``\\s`` excludes
    vertical tab ``\\x0B``, so a document containing a vertical tab
    would tokenize differently in the DuckDB oracle twins. The test
    corpora contain no ``\\x0B`` (asserted in
    tests/test_oracle_parity.py), and any real corpus fed to the
    oracle-compared paths must be normalized first (or this split and
    every oracle changed to the explicit class ``[ \\t\\n\\f\\r]+`` in
    lockstep)."""
    return F.split(F.trim(_c(col)), r"\s+")


def letter_tokens(col: Column | str) -> Column:
    """Lowercase letter-run tokens ('[^a-z]+' split, empties removed) —
    the corpus-statistics tokenizer shared by tfidf/bm25/CMS/feature-
    hashing in operators/textops.py and the curation quality features
    (one definition, so the Spark sides and their oracle twins cannot
    drift tokenizer-by-tokenizer)."""
    return F.filter(F.split(F.lower(_c(col)), "[^a-z]+"), lambda x: x != F.lit(""))


def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """n-word shingles from an already-materialized token-array column.

    Performance note: the token array MUST be a real column (projected in
    a prior select), not an inline ``split(...)`` expression — Spark does
    not apply common-subexpression elimination inside higher-order
    function lambdas, so an inline split would be re-evaluated per
    shingle. With a materialized column this is one ``slice``+``array_join``
    per shingle. (CollapseProject keeps a non-cheap multi-use alias as a
    separate projection, so the split truly runs once per row.)
    """
    t = _c(tok_col)
    sz = F.size(t)
    return F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - n + 1),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-marker hit counts over space-doubled padded
    text (immediately repeated markers each count)."""
    padded = padded_for_counting(col)
    return {
        lang: sum(substr_count(padded, m) for m in markers).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
