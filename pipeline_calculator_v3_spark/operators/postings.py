"""Inverted-index postings build — the retrieval-side data structure the
BM25/TF-IDF faces score against, materialized as a table: one row per
(term, ranked posting) with exact per-term document frequency, collection
frequency, and first-occurrence position.

This is the batch index-construction step of a retrieval-augmented
curation pipeline (benchmark-query mining, contamination lookup,
hybrid-retrieval candidate generation): queries_textml's q_bm25_rank
scores a FIXED query against the corpus scan; this operator inverts the
corpus ONCE so any later query is a posting-list lookup instead of a
corpus scan.

Scale shape (the head-term problem is the whole design):
1. explode to (doc, pos, term) — linear, no shuffle;
2. ONE (term, doc) hash aggregate (tf, first position) — map-side
   partials absorb within-document repetition, so the shuffle carries
   (term, doc) pairs, never occurrences;
3. per-term df/cf via a second hash aggregate on term — partial
   aggregation makes stopword-grade terms a non-event (their billions of
   pairs combine map-side);
4. the top-``max_postings`` posting list per term is the skew hazard: a
   term appearing in EVERY document puts the whole corpus in one window
   partition.  So top-k runs in TWO phases — phase 1 ranks within
   (term, doc_id % salt_buckets) and keeps k per salted group (bounded
   partitions: <= df/salt_buckets rows), phase 2 ranks the <= k *
   salt_buckets survivors per term.  No single partition ever sees more
   than max(df/salt_buckets, k * salt_buckets) rows, at any corpus size.
5. exact stats join back to the capped postings on term (post-aggregate
   cardinality = vocabulary size, AQE broadcast territory for natural
   corpora).

Determinism: ranking is (tf DESC, doc_id ASC); the salt is ``doc_id %
salt_buckets`` (no engine-specific hashing), so every step replays in
ANSI SQL — the staged r12 registry face's oracle lives in
tests/test_postings.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens


def postings_index(
    docs: DataFrame,
    max_postings: int = 16,
    salt_buckets: int = 32,
) -> DataFrame:
    """Invert ``docs`` into capped per-term posting lists with exact stats.

    Returns one row per kept posting: ``term``, ``df`` BIGINT (exact
    distinct-document count), ``cf`` BIGINT (exact total occurrences),
    ``rank`` INT (1-based, (tf DESC, doc_id ASC) within term), ``doc_id``,
    ``tf`` BIGINT, ``first_pos`` BIGINT (0-based first occurrence within
    the document).  Postings beyond ``max_postings`` per term are dropped
    (the cap is the index budget; df/cf stay exact over ALL postings).

    ``doc_id`` must be numeric (the skew salt is ``id % salt_buckets``;
    a hash salt would not replay in the oracle).
    """
    if max_postings < 1:
        raise ValueError("max_postings must be >= 1")
    if salt_buckets < 1:
        raise ValueError("salt_buckets must be >= 1")
    from ..caching import persist_tracked

    occ = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "term"),
    )
    # persisted: both the exact per-term stats and the salted top-k read
    # this aggregate; unpersisted, the corpus scan + explode + (term, doc)
    # shuffle would run twice.
    pairs = persist_tracked(
        occ.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )
    stats = pairs.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    order = [F.desc("tf"), F.asc("doc_id")]
    salted = Window.partitionBy(
        "term", F.pmod(F.col("doc_id"), F.lit(salt_buckets))
    ).orderBy(*order)
    survivors = pairs.withColumn(
        "r1", F.row_number().over(salted)
    ).where(F.col("r1") <= max_postings)
    final = Window.partitionBy("term").orderBy(*order)
    capped = survivors.withColumn(
        "rank", F.row_number().over(final)
    ).where(F.col("rank") <= max_postings)
    return capped.join(stats, "term").select(
        "term", "df", "cf", "rank", "doc_id", "tf", "first_pos"
    )
