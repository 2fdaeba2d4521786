"""Sequence packing — concatenating curated documents into fixed
token-budget training examples, the last dataflow step before a tokenizer
sees the corpus.

Semantics: concat-and-slice packing (the standard pre-training layout).
Documents are laid end-to-end in a deterministic order and the stream is
cut every ``budget`` tokens; a document whose span crosses a cut belongs to
the example where it STARTS (so examples can run over budget by at most one
document's tail — bounded by the corpus max doc length, which chunking
upstream bounds by construction).  No RNG anywhere: the layout is a pure
function of (doc_id, token count), stable under repartitioning and retries.

Scale shape: a single global concatenation order would serialize one
reducer, so packing is per-shard — the same deterministic md5 shard
assignment as operators/chunking.py::shard_of — and the window cumsum runs
partitioned by shard.  At 100 TB each shard's window is an independent
sort + running sum over (doc_id, ntok) pairs (two smallints per doc, NOT
the text), and shards scale out with the cluster.  The token arrays never
move: ntok is computed scan-side and only the counts enter the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from .chunking import shard_of


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """One row per packed training example: (shard, example_id, n_docs,
    n_tokens, first_doc, last_doc).  ``example_id`` restarts at 0 per shard;
    ``n_tokens`` is the sum of whole documents starting in the example."""
    if budget <= 0 or n_shards <= 0:
        raise ValueError("budget and n_shards must be positive")
    base = docs.select(
        "doc_id",
        shard_of(F.col("doc_id"), n_shards),
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
    ).where(F.col("ntok") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = base.select(
        "shard",
        "doc_id",
        "ntok",
        F.coalesce(F.sum("ntok").over(w), F.lit(0)).alias("start"),
    )
    return (
        placed.groupBy(
            "shard",
            F.floor(F.col("start") / budget).cast("bigint").alias("example_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            # no cast: min/max keep doc_id's own type, so string/UUID ids
            # work (review r06: the bigint cast NULLed or ANSI-raised on
            # any non-numeric id; the registered query's ids are already
            # bigint, so its schema is unchanged)
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def bucket_edges(seq_len: int) -> list[int]:
    """Power-of-two bucket caps [16, 32, ..., seq_len] (seq_len last, even
    when not itself a power of two) — ONE generator for the Column ladder
    and the oracle SQL's CASE text, so the faces cannot drift."""
    edges = []
    e = 16
    while e < seq_len:
        edges.append(e)
        e *= 2
    edges.append(seq_len)
    return edges


def padding_audit_cap_sql(ntok_sql: str, seq_len: int) -> str:
    """The bucket-cap CASE ladder as SQL text over a token-count
    expression — emitted from the same ``bucket_edges`` the Column face
    folds over."""
    branches = "\n".join(
        f"        WHEN {ntok_sql} <= {e} THEN {e}"
        for e in bucket_edges(seq_len)[:-1]
    )
    return f"(CASE\n{branches}\n        ELSE {seq_len} END)"


def padding_audit(docs: DataFrame, seq_len: int = 512) -> DataFrame:
    """Length-bucketed batching audit — the measurement behind choosing
    bucketed batching over naive pad-to-max: per power-of-two length
    bucket (capped at ``seq_len``; longer documents truncate to it),
    the doc count, real token count, padded-slot count if every doc in
    the bucket pads to the bucket cap, and the waste fraction.  Training
    batches drawn within a bucket pay (cap - ntok) padding per doc;
    drawn corpus-wide they pay (seq_len - ntok) — both reported, so the
    table directly prices the bucketing decision.

    Buckets: cap = smallest power of two >= ntok, clamped to [16,
    seq_len] (sub-16-token docs share the smallest batch shape; longer
    docs truncate).  The edge is a generated CASE ladder over integer
    comparisons — no log2/double anywhere, so both engines replay it
    BIGINT-exact from the same generated text
    (tests/test_padding_audit.py carries the DuckDB oracle; an r11
    registry face needs a driver-window slot).

    Scale shape: tokenization + bucket assignment are scan-side Column
    expressions; ONE hash aggregate on <= log2(seq_len) keys.  Token
    arrays never shuffle — only (bucket, count, sums) partials move.
    """
    if seq_len < 16:
        raise ValueError(f"seq_len must be >= 16, got {seq_len}")
    ntok_raw = F.size(tokens(F.lower(F.col("text"))))
    ntok = F.least(ntok_raw, F.lit(seq_len))
    cap = F.lit(seq_len)
    for edge in reversed(bucket_edges(seq_len)[:-1]):
        cap = F.when(ntok <= edge, F.lit(edge)).otherwise(cap)
    staged = docs.select(
        F.col("doc_id"),
        ntok.alias("ntok"),
        cap.cast("bigint").alias("bucket_cap"),
    ).where(F.col("ntok") > 0)
    return (
        staged.groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            (F.sum(F.col("bucket_cap") - F.col("ntok")))
            .cast("bigint")
            .alias("padded_bucketed"),
            (F.sum(F.lit(seq_len) - F.col("ntok")))
            .cast("bigint")
            .alias("padded_naive"),
        )
        .select(
            "bucket_cap", "n_docs", "n_tokens",
            "padded_bucketed", "padded_naive",
            F.round(
                F.col("padded_bucketed")
                / (F.col("n_docs") * F.col("bucket_cap")),
                6,
            ).alias("waste_bucketed"),
            F.round(
                F.col("padded_naive") / (F.col("n_docs") * F.lit(seq_len)),
                6,
            ).alias("waste_naive"),
        )
    )
