"""Text primitives shared by the dedup / text-analysis operators:
tokenization, shingling, and PORTABLE hashing.

Portability rule: every hash that feeds a driver-checked operator is an
md5 hex string (Spark ``md5`` ≡ DuckDB ``md5`` ≡ Python hashlib), and
minima over fixed-width lowercase hex strings are taken
lexicographically — identical to numeric minima, with zero cross-engine
numeric-type risk. Spark's native ``xxhash64``/``hash`` are NOT used in
checked paths (no DuckDB twin).

All functions return Column expressions (JVM-side, codegen) — no
Python UDFs in these hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# word tokens: runs of letters, digits, or a single other non-space glyph —
# a BPE-ish pre-tokenization that both Spark (Java regex) and DuckDB (RE2)
# interpret identically.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Lowercased word/punct tokens via regexp_extract_all (codegen).

    Uses the function form with a ``lit`` pattern — NOT an ``F.expr``
    SQL string, whose literal parsing would eat the ``\\s`` escape and
    silently turn whitespace into tokens.
    """
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(TOKEN_RE), F.lit(0))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) from the token list."""
    toks = tokens(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
