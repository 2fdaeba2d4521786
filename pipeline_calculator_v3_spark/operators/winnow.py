"""Winnowing — local document fingerprinting (Schleimer, Wilkerson,
Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
SIGMOD 2003; the MOSS algorithm).  The remaining dedup axis the engine
lacked: exact dedup catches identical documents, MinHash/SimHash catch
globally-similar ones, the fixed-stride shingle face catches aligned
substrings — winnowing GUARANTEES that any shared token run of length
>= t = k + w - 1 between two documents produces at least one shared
fingerprint, while keeping fingerprint density bounded (~2/(w+1) of
grams), which none of the others promise.

Algorithm, per document: hash every token k-gram; slide a window of w
consecutive gram hashes; record the MINIMUM hash of each window, ties
to the RIGHTMOST position (the paper's STANDARD winnowing tie rule;
robust winnowing — re-selecting the previous window's hash to further
thin repetitive text — is a different variant this operator does not
implement, so density on highly repetitive text approaches one
fingerprint per gram rather than the ~2/(w+1) average).  Cross-document matching is
then an equi-join on fingerprint.

Engine mapping: gram hashes are md5 hex (identical in Spark and DuckDB,
the minhash_lsh_pairs_md5 rule) concatenated with a zero-padded
INVERTED position, so one lexicographic ``array_min`` implements
"min hash, rightmost tie" exactly and the whole per-document pass is
HOF-only — zero shuffles, zero UDFs.  The gram-hash array is staged as
a real column before the window pass (HOF subexpressions are excluded
from Catalyst CSE — inlined, the md5 array would recompute per window,
an O(n*w) -> O(n^2) blowup; the classifier.py staging rule).

Scale shape: fingerprints shuffle as (doc, 32-byte hex) rows once for
the frequency cap and once for the pair join; the cap (drop fingerprints
in more than ``max_df`` documents — boilerplate is the line-dedup
face's job) bounds every join bucket, so no fingerprint ever contributes
more than C(max_df, 2) pairs.  Staged r11 for an r12 registry face;
DuckDB oracle in tests/test_winnow.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

# positions are padded into the sort key as (PAD - pos); corpora with a
# billion tokens per DOCUMENT are out of contract
_PAD = 1_000_000_000


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Select winnowing fingerprints per document.

    Returns (``doc_id``, ``fp`` 32-char md5 hex of the selected token
    k-gram, ``pos`` BIGINT 1-based gram position).  Documents shorter
    than t = k + w - 1 tokens yield no rows (below the guarantee
    threshold there is nothing to fingerprint — the paper's contract).
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    tok = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))

    def gram(i: Column) -> Column:
        return F.concat_ws(
            " ", *[F.element_at(F.col("_tok"), i + off) for off in range(k)]
        )

    keys = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_tok")) - (k - 1)),
        lambda i: F.concat(
            F.md5(gram(i)), F.format_string("%010d", F.lit(_PAD) - i)
        ),
    )
    staged = (
        docs.select(F.col("doc_id"), tok.alias("_tok"))
        # lower bound: the paper's t = k + w - 1 guarantee threshold.
        # Upper bound: positions at or beyond _PAD would emit an 11-char
        # NEGATIVE pad ('-000000001') that silently corrupts both the
        # lexicographic tie order and the substring(33,10) decode —
        # enforce the documented contract instead of leaving it advisory
        # (review r13; a >= 10^9-gram document is not a document)
        .where(
            (F.size("_tok") >= k + w - 1)
            & (F.size("_tok") - (k - 1) < _PAD)
        )
        .select("doc_id", keys.alias("_keys"))
    )
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_keys")) - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("_keys"), j, w)),
        )
    )
    return staged.select(
        "doc_id", F.explode(selected).alias("_sel")
    ).select(
        "doc_id",
        F.substring("_sel", 1, 32).alias("fp"),
        (F.lit(_PAD) - F.substring("_sel", 33, 10).cast("bigint")).alias(
            "pos"
        ),
    )


def winnow_match_pairs(fps: DataFrame, max_df: int = 16) -> DataFrame:
    """Candidate near-duplicate pairs from a fingerprint table: documents
    sharing at least one fingerprint seen in <= ``max_df`` documents.

    Returns (``id_a``, ``id_b``) with ``id_a < id_b``, ``n_shared``
    BIGINT distinct shared fingerprints, ordered by nothing (callers
    rank).  Fingerprints above the cap are dropped BEFORE the self-join
    — ubiquitous grams are boilerplate (the line-dedup face's domain)
    and would otherwise quadratically dominate the join."""
    if max_df < 2:
        raise ValueError("max_df must be >= 2 (a pair needs two docs)")
    from ..caching import persist_tracked

    docfp = persist_tracked(fps.select("doc_id", "fp").distinct())
    keep = docfp.groupBy("fp").agg(
        F.count("*").alias("_df")
    ).where((F.col("_df") >= 2) & (F.col("_df") <= max_df)).select("fp")
    cand = docfp.join(keep, "fp")
    a = cand.select(F.col("fp"), F.col("doc_id").alias("id_a"))
    b = cand.select(F.col("fp"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
