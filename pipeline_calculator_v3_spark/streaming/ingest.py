"""Streaming near-dup-gated corpus ingest: admit each micro-batch of
documents into a standing corpus only if it is NOT a near-duplicate of
anything already admitted — the continuous-crawl front door of a
training-data pipeline (the batch face is
operators/dedup.py::minhash_lsh_match_md5; this module runs the same
decision as a Structured Streaming fold).

The corpus is represented by its on-disk LSH INDEX, not its text: two
append-only parquet tables, ``index/bands`` (id, band key) and
``index/shingles`` (id, distinct shingle set), each written as one
subdirectory per generation.  Every batch

1. stages its own signatures once (the shared md5 stager — the same
   derivation the self-join and bipartite faces use, so the three
   ingest-dedup surfaces cannot fork),
2. band-joins batch keys x INDEX keys (bipartite — per-batch cost scales
   with the batch's bucket hits, never the corpus size, and the index
   read is a column-pruned scan that at scale would be bucketed by key),
3. verifies candidates with exact Jaccard against the index shingle
   sets,
4. rejects batch-INTERNAL near-dups by the greedy lowest-id-wins rule
   (a batch doc with a qualifying pair against any lower-id batch doc is
   rejected, regardless of that doc's own fate — deterministic and
   EXISTS-replayable in SQL),
5. appends the survivors' rows, bands and shingles under
   generation-keyed subdirectories.

Idempotence: every write is ``mode=overwrite`` into a path keyed by the
micro-batch id, so foreachBatch's at-least-once redelivery (crash
between the three writes included) converges to the same on-disk state.

State contract: NOTHING lives in the streaming state store — the index
is the state, which is what makes the fold restartable and what a 100 TB
deployment needs anyway (the index outlives any single stream run).

Scale shape per batch: one band-key shuffle (batch side tiny), one
candidate-verify join against the shingle index pruned to candidate ids,
zero full-corpus scans of text.  The growing cost center is the index
band table scan, which bucketing by ``key`` turns into a pruned lookup.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked, unpersist_tracked
from ..functions.text import normalized_text, tokens
from ..operators.dedup import (
    SHINGLE_N,
    _md5_staged_bands,
    _verify_candidates,
    jaccard_verify,
)
from ..shipping import ensure_pkg_shipped


def _short_doc_frames(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(staged, bands) rows for documents BELOW the shingle width.

    The shared md5 stager excludes sub-shingle docs (its oracle contract),
    which made them invisible to the admission gate: a 1-2 token doc was
    admitted on EVERY redelivery — unbounded exact duplicates in the
    accepted table (review r11).  Such docs get a DEGENERATE one-element
    shingle set (their whole normalized text) and one synthetic band key
    ("short|" + md5(text), disjoint from real band keys by prefix): exact
    duplicates collide and verify at Jaccard 1.0; for docs this short,
    exact-match is the only meaningful near-dup rule.

    NULL text coalesces to '' BEFORE normalization (the rule the
    entropy/ngram/winnow operators follow): normalized_text(NULL) is NULL,
    size(tokens(NULL)) = -1 < SHINGLE_N, so NULL-text docs always take
    this path — without the coalesce they'd get a NULL band key (NULL
    never equi-joins) and be re-admitted on every redelivery, the exact
    failure this frame exists to close (ADVICE r11)."""
    norm = normalized_text(F.coalesce(F.col("text"), F.lit("")))
    short = batch_df.where(F.size(tokens(norm)) < SHINGLE_N).select(
        F.col("doc_id").alias("id"), norm.alias("_nt")
    )
    staged = short.select("id", F.array(F.col("_nt")).alias("sh"))
    bands = short.select(
        "id", F.concat(F.lit("short|"), F.md5(F.col("_nt"))).alias("key")
    )
    return staged, bands


def _write_index(
    rows: DataFrame,
    bands_df: DataFrame,
    shingles_df: DataFrame,
    work_dir: str,
    gen_tag: str,
) -> None:
    """Admit step: write (membership rows, band keys, shingle sets) under
    generation subdir ``gen_tag`` — shared by the seed and every batch,
    and fed from the SAME staged frames the matching joins read, so each
    batch's signatures are derived exactly once.

    The three writes are INDEPENDENT jobs over already-staged (persisted)
    frames, so they are submitted concurrently (guide §2.6: actions are
    only sequential because driver code calls them sequentially) — the
    bands/shingles jobs back-fill executors the rows job leaves idle,
    cutting the per-generation wall to ~the slowest write instead of the
    sum of three.  This changes nothing about idempotence: each write is
    still mode=overwrite into its own generation-keyed path, so
    at-least-once redelivery (crash between or DURING the writes
    included) converges to the same on-disk state regardless of write
    order or interleaving."""
    writes = [
        (rows, os.path.join(work_dir, "accepted", gen_tag)),
        (
            bands_df.select("id", "key"),
            os.path.join(work_dir, "index", "bands", gen_tag),
        ),
        (
            shingles_df.select("id", "sh"),
            os.path.join(work_dir, "index", "shingles", gen_tag),
        ),
    ]
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [
            pool.submit(
                lambda frame, path: frame.write.mode("overwrite").parquet(path),
                frame,
                path,
            )
            for frame, path in writes
        ]
        for f in futures:
            f.result()  # surface the first failure (redelivery handles it)


def _gen_paths(root: str, upto: int) -> list[str]:
    """Generation subdirs ``b0..b{upto}`` under ``root`` (driver-side
    listing; one entry per generation, bounded by batch count — a real
    deployment compacts generations periodically).

    Excluding generations ABOVE the current batch is what makes
    at-least-once redelivery idempotent: a crash between the index writes
    and the checkpoint commit re-runs the batch, and reading its own
    already-written generation would self-match every previously-accepted
    doc (Jaccard 1.0 against its own signatures), reject the whole batch,
    and overwrite the generation with the empty set — silent divergence.
    (On an object store the listing becomes one FS list call; still one
    entry per generation.)"""
    out = []
    for name in sorted(os.listdir(root)):
        if name.startswith("b") and name[1:].isdigit() and int(name[1:]) <= upto:
            out.append(os.path.join(root, name))
    return out


def admit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    work_dir: str,
) -> None:
    """One micro-batch through the near-dup admission gate (module
    docstring steps 1-5).  Exposed module-level so redelivery can be
    exercised directly: calling this twice with the same (batch_df,
    batch_id) must leave the on-disk index byte-stable."""
    # a NULL doc_id is untrackable by the index: every band/shingle
    # equi-join drops it, so it would sail through the gate and append an
    # exact duplicate on EVERY redelivery (review r13, the NULL-text r11
    # class).  Dropping it here keeps admission idempotent; identity is
    # the caller's contract.
    batch_df = batch_df.where(F.col("doc_id").isNotNull())
    if batch_df.isEmpty():
        return
    base_staged, sig, base_bands = _md5_staged_bands(batch_df)
    # every pinned frame goes through this list so the finally below can
    # release them even when the batch FAILS mid-flight — an exception
    # before the cleanup used to leak 4 persisted frames per replay
    # attempt, reopening the r08 unbounded-storage growth on the failure
    # path (review r13)
    pinned = [base_staged, sig]
    try:
        _admit_batch_body(
            spark, batch_df, batch_id, work_dir,
            base_staged, base_bands, pinned,
        )
    finally:
        for frame in pinned:
            unpersist_tracked(frame)


def _admit_batch_body(
    spark, batch_df, batch_id, work_dir,
    base_staged, base_bands, pinned,
) -> None:
    short_staged, short_bands = _short_doc_frames(batch_df)
    # the unions WRAP the stager's persisted frames — the bases (not the
    # wrappers) are what the cleanup loop releases
    staged = base_staged.unionByName(short_staged)
    with_bands = persist_tracked(
        base_bands.select("id", "key").unionByName(short_bands)
    )  # corpus + internal joins
    pinned.append(with_bands)
    # read ONLY generations b0..b{batch_id}: the seed plus every COMMITTED
    # earlier batch — never this batch's own (possibly partially written)
    # b{batch_id+1} generation (see _gen_paths).  Every generation was
    # written by _write_index from frames of this batch's shape, so their
    # schemas are stated rather than inferred: inference is one footer job
    # per read per micro-batch
    idx_bands = spark.read.schema(with_bands.schema).parquet(
        *_gen_paths(os.path.join(work_dir, "index", "bands"), batch_id)
    )
    idx_sh = spark.read.schema(staged.select("id", "sh").schema).parquet(
        *_gen_paths(os.path.join(work_dir, "index", "shingles"), batch_id)
    )
    cand = (
        with_bands.select(F.col("id").alias("bid"), "key")
        .join(idx_bands.select(F.col("id").alias("cid"), "key"), "key")
        .select("bid", "cid")
        .dropDuplicates(["bid", "cid"])
    )
    # bipartite batch-vs-corpus verify through the ONE shared Jaccard
    # spelling (jaccard_verify; review r13 — this was the third hand copy)
    corpus_rejected = (
        jaccard_verify(cand, staged, idx_sh, "bid", "cid", 0.5)
        .select(F.col("bid").alias("doc_id"))
        .distinct()
    )
    internal_rejected = (
        _verify_candidates(with_bands, staged, ["key"], 0.5)
        .select(F.col("id2").alias("doc_id"))  # greedy lowest-id-wins
        .distinct()
    )
    rejected = corpus_rejected.unionByName(internal_rejected).distinct()
    accepted_ids = persist_tracked(
        batch_df.select("doc_id").join(rejected, "doc_id", "left_anti")
    )  # read by three index writes below
    pinned.append(accepted_ids)
    # NOT materialized with an explicit count() before the concurrent
    # writes: the executor's per-partition cache locking already makes
    # the first computing task populate the blocks while racing readers
    # wait, and an A/B measured the extra count() job as pure added
    # latency (~1 s/stream at sf0.1, 2 batches)
    acc = F.broadcast(accepted_ids)
    _write_index(
        batch_df.join(acc, "doc_id", "left_semi").select("doc_id", "gen"),
        with_bands.join(
            acc.select(F.col("doc_id").alias("id")), "id", "left_semi"
        ),
        staged.join(
            acc.select(F.col("doc_id").alias("id")), "id", "left_semi"
        ),
        work_dir,
        f"b{batch_id + 1}",
    )
    # batch-scoped caches end with the batch: the next micro-batch reads
    # the on-disk index, never these frames — the caller's finally
    # releases every frame in `pinned` (unpersist_tracked both frees the
    # blocks and DEREGISTERS the driver handle, review r08/r11/r13).


def ingest_stream_dedup(
    spark: SparkSession,
    updates_dir: str,
    updates_schema: str,
    base_docs: DataFrame,
    work_dir: str,
) -> None:
    """Seed the index from ``base_docs`` (gen 0), then fold every update
    file under ``updates_dir`` through the near-dup admission gate, one
    micro-batch per file, and block until the stream drains.

    ``base_docs`` and the update files must carry (doc_id, text, gen),
    with the same types in both."""
    ensure_pkg_shipped(spark)
    # NULL-id seed docs are as untrackable as NULL-id batch docs (the
    # admit_batch rule) — an index row with id NULL never equi-joins
    base_docs = base_docs.where(F.col("doc_id").isNotNull())
    seed_staged, _seed_sig, seed_bands = _md5_staged_bands(base_docs)
    try:
        # seed-side short docs take the same degenerate path as batches —
        # a sub-shingle seed doc must be matchable, or its exact copy in
        # any later batch sails through the gate (review r11)
        sshort_staged, sshort_bands = _short_doc_frames(base_docs)
        _write_index(
            base_docs.select("doc_id", "gen"),
            seed_bands.select("id", "key").unionByName(sshort_bands),
            seed_staged.unionByName(sshort_staged),
            work_dir, "b0",
        )
    finally:
        # same batch-scoped-cache rule as admit_batch, failure path
        # included: the stream reads the written b0 index, never these
        unpersist_tracked(_seed_sig)
        unpersist_tracked(seed_staged)

    def _admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        admit_batch(spark, batch_df, batch_id, work_dir)

    stream = (
        spark.readStream.schema(updates_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_admit_batch)
        .option(
            "checkpointLocation", work_dir.rstrip("/") + ".__ckpt__"
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_admitted(
    spark: SparkSession, work_dir: str, schema: str
) -> DataFrame:
    """The admitted corpus membership table (doc_id, gen) — the fold's
    final state — read with ``schema``, the types it was written with
    (the stream's ``updates_schema`` serves: its other columns are
    dropped), so the read runs no schema-inference job."""
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(work_dir, "accepted"))
        .select("doc_id", "gen")
    )
