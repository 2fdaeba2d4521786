"""Text-analysis Column expressions: tokenization, quality, fingerprinting.

All JVM-side builtins (split/regexp/md5) — no Python in the hot path.  The
tokenizer regex is shared verbatim with the DuckDB oracle SQL so both sides
tokenize identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer — shared with oracle SQL (regexp_split semantics match
# between Spark `split` and DuckDB `regexp_split_to_array`).
TOKEN_SPLIT_RE = r"\s+"

# The tokens() helper as DuckDB oracle SQL text — ONE definition next to
# the regex it mirrors (review r06: queries_textml and queries_pipeline
# each declared a verbatim copy, a silent-drift channel for the tokenizer)
TOKENS_SQL = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"

# Small English stopword list for the language-ID heuristic and quality score.
EN_STOPWORDS = (
    "the a an and or of to in is are was were be for on with as at by it "
    "this that from not have has had but they you we he she his her its"
).split()

# The stoplist as a DuckDB list literal — ONE spelling shared by every
# oracle that filters tokens against it (queries_textml and the quality
# classifier each used to build an identical copy; a future quoting fix
# applied to one would have forked the oracles — review r08).
STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def tokens(text: Column) -> Column:
    """Split on whitespace, drop empty tokens."""
    return F.filter(F.split(text, TOKEN_SPLIT_RE), lambda t: t != "")


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed, lowercased — dedup canonical form."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint_md5(text: Column) -> Column:
    """Deterministic document fingerprint (md5 of normalized text).

    MD5 is identical across Spark and DuckDB, so this is oracle-checkable,
    unlike xxhash64 (Spark-specific seed/algorithm).
    """
    return F.md5(normalized_text(text))


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """String n-gram shingles from a MATERIALIZED token-array column.

    Pass a real column reference so the tokenizer runs once per row; each
    shingle is built with ``element_at`` x n instead of ``slice`` (which
    allocates a sub-array per position) — ~3x faster than slicing inline
    tokens (measured 0.8 s -> 0.26 s warm on 5000 docs).  Mirrors the
    shingles_from_token_hashes materialization contract below.

    Guarded for sub-``n``-token inputs: Spark's sequence counts DOWN when
    end < start, so unguarded short docs would produce garbage
    positions.  NULL tokens stay NULL rather than becoming the empty
    shingle set, which would collide with every short doc downstream.
    """
    return F.when(t.isNull(), F.lit(None).cast("array<string>")).when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_hashes(text: Column) -> Column:
    """xxhash64 of each normalized token, as array<bigint>."""
    return F.transform(tokens(normalized_text(text)), lambda t: F.xxhash64(t))


def shingles_from_token_hashes(th: Column, n: int = 3) -> Column:
    """N-gram shingle hashes from a MATERIALIZED token-hash column.

    IMPORTANT: pass a real column reference, not an inline expression — each
    of the n element_at calls per position re-evaluates its argument, so an
    inline token-hash expression costs ~(n x positions x tokens) hashes per
    row (~40x at n=3) instead of (tokens + positions).  (The combiner was
    trigram-specialized behind a bare assert until review r12 — stripped
    under python -O, the guard vanished while the body stayed n=3.)
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    return F.when(th.isNull(), F.lit(None).cast("array<bigint>")).when(
        F.size(th) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(th) - (n - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(th, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
