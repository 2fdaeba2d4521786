"""Planted-scenario gates for streaming/ingest.py — the near-dup-gated
admission fold: bipartite rejection against the index, greedy
lowest-id-wins inside a batch, index growth across generations, and
at-least-once redelivery idempotence."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

# registry first: queries_stream begins with `from .queries import ...`,
# so importing it before queries.py finishes its submodule sweep leaves
# the q_stream_* registrations missing at _reorder_registry time
import pipeline_calculator_v3_spark.queries  # noqa: F401  (import order)
from pipeline_calculator_v3_spark.queries_stream import _stage_batch_file
from pipeline_calculator_v3_spark.streaming.ingest import (
    admit_batch,
    ingest_stream_dedup,
    read_admitted,
)

A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
C = "one two three four five six seven eight nine ten eleven twelve"
F_UNIQ = "completely fresh material nothing resembles this run of words here"

GEN2_ROWS = [(20, C, 2),   # dup of gen-1 ADMITTED doc 11 -> rejected
             (21, F_UNIQ, 2),   # unique -> admitted
             (22, A, 2)]        # dup of the ORIGINAL seed -> rejected
DOC_SCHEMA = "doc_id long, text string, gen long"


def _stage(spark, frame, path, mtime):
    _stage_batch_file(frame, path, mtime)


@pytest.fixture(scope="module")
def ingest_run(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("ingest"))
    base = spark.createDataFrame([(1, A, 0)], DOC_SCHEMA)
    gen1 = spark.createDataFrame(
        [(10, A, 1),        # exact dup of base -> rejected (bipartite)
         (11, C, 1),        # unique -> admitted
         (12, C, 1)],       # dup of lower-id batchmate 11 -> rejected
        DOC_SCHEMA,
    )
    gen2 = spark.createDataFrame(GEN2_ROWS, DOC_SCHEMA)
    updates = os.path.join(work, "updates")
    os.makedirs(updates)
    _stage(spark, gen1, os.path.join(updates, "g1.parquet"), 1.7e9 + 1)
    _stage(spark, gen2, os.path.join(updates, "g2.parquet"), 1.7e9 + 2)
    corpus = os.path.join(work, "corpus")
    ingest_stream_dedup(
        spark,
        updates + "/g*.parquet",
        "doc_id bigint, text string, gen bigint",
        base,
        corpus,
    )
    return corpus


@pytest.fixture(scope="module")
def admitted(spark, ingest_run):
    rows = read_admitted(spark, ingest_run, DOC_SCHEMA).collect()
    return {r.doc_id: r.gen for r in rows}


def test_admission_decisions(admitted):
    assert admitted == {1: 0, 11: 1, 21: 2}


def test_gen_labels_survive_the_fold(admitted):
    assert admitted[11] == 1 and admitted[21] == 2


def _index_rows(spark, corpus):
    bands = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(corpus, "index", "bands")
    )
    sh = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(corpus, "index", "shingles")
    )
    return (
        sorted((r.id, r.key) for r in bands.collect()),
        sorted((r.id, tuple(sorted(r.sh))) for r in sh.collect()),
    )


def test_redelivery_is_idempotent(spark, ingest_run, admitted):
    """foreachBatch is at-least-once: a crash after the three index writes
    but before the checkpoint commit re-runs the SAME batch against an
    index that already contains its own generation.  Without the
    generation cutoff in _gen_paths, every previously-admitted doc
    self-matches (Jaccard 1.0 against its own signatures) and the re-run
    overwrites the generation with the empty set."""
    before_bands, before_sh = _index_rows(spark, ingest_run)
    gen2 = spark.createDataFrame(GEN2_ROWS, DOC_SCHEMA)
    # redeliver the SECOND micro-batch (batch_id=1, which wrote b2)
    admit_batch(spark, gen2, 1, ingest_run)
    rows = read_admitted(spark, ingest_run, DOC_SCHEMA).collect()
    assert {r.doc_id: r.gen for r in rows} == {1: 0, 11: 1, 21: 2}
    assert _index_rows(spark, ingest_run) == (before_bands, before_sh)


def test_batch_caches_released(spark, tmp_path):
    """review r08: admit_batch pinned 4 new RDDs per micro-batch forever —
    a continuous stream must keep executor storage bounded."""
    import pandas as pd

    from pipeline_calculator_v3_spark.streaming.ingest import (
        _write_index, admit_batch,
    )
    from pipeline_calculator_v3_spark.operators.dedup import _md5_staged_bands

    base = spark.createDataFrame(
        [(i, f"seed doc {i} alpha beta gamma delta", 0) for i in range(4)],
        "doc_id long, text string, gen long",
    )
    st, sg, bd = _md5_staged_bands(base)
    _write_index(base.select("doc_id", "gen"), bd, st, str(tmp_path), "b0")
    for f in (sg, st):
        f.unpersist()
    before = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    batch = spark.createDataFrame(
        [(100, "fresh doc one two three four five", 1)],
        "doc_id long, text string, gen long",
    )
    admit_batch(spark, batch, 0, str(tmp_path))
    after = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(after) <= len(before), (
        f"admit_batch leaked {len(after) - len(before)} pinned RDDs"
    )


def test_short_docs_cannot_be_readmitted(spark, tmp_path_factory):
    """Sub-shingle documents used to bypass the gate entirely (the shared
    stager excludes them, so they were admitted on EVERY delivery); the
    degenerate whole-text path must reject exact short-doc copies across
    batches, against the seed, and inside a batch (review r11)."""
    work = str(tmp_path_factory.mktemp("ingest_short"))
    base = spark.createDataFrame([(1, "hi there", 0)], DOC_SCHEMA)
    gen1 = spark.createDataFrame(
        [(10, "hi there", 1),   # exact dup of the SHORT seed -> rejected
         (11, "ok", 1),         # unique 1-token doc -> admitted
         (12, "ok", 1)],        # dup of lower-id batchmate -> rejected
        DOC_SCHEMA,
    )
    gen2 = spark.createDataFrame(
        [(20, "ok", 2),         # dup of gen-1 admitted short doc -> rejected
         (21, "bye now", 2)],   # unique short doc -> admitted
        DOC_SCHEMA,
    )
    updates = os.path.join(work, "updates")
    os.makedirs(updates)
    _stage(spark, gen1, os.path.join(updates, "g1.parquet"), 1.7e9 + 1)
    _stage(spark, gen2, os.path.join(updates, "g2.parquet"), 1.7e9 + 2)
    corpus = os.path.join(work, "corpus")
    ingest_stream_dedup(
        spark, updates + "/g*.parquet",
        "doc_id bigint, text string, gen bigint",
        base, corpus,
    )
    rows = {
        r.doc_id: r.gen
        for r in read_admitted(spark, corpus, DOC_SCHEMA).collect()
    }
    assert rows == {1: 0, 11: 1, 21: 2}


def test_null_text_docs_dedupe_like_empty(spark, tmp_path_factory):
    """NULL-text docs take the short path (size(tokens(NULL)) = -1) but
    before the coalesce fix their band key was concat('short|', md5(NULL))
    = NULL, which never equi-joins — so an exact NULL-text duplicate was
    re-admitted in every later batch and NULL keys/shingles polluted the
    index parquet (ADVICE r11).  With coalesce-to-'' they collide as exact
    duplicates of the empty doc: lowest id wins once, all copies reject."""
    work = str(tmp_path_factory.mktemp("ingest_nulltext"))
    base = spark.createDataFrame([(1, "hi there", 0)], DOC_SCHEMA)
    gen1 = spark.createDataFrame(
        [(10, None, 1),         # first NULL-text doc -> admitted
         (11, None, 1)],        # NULL dup of lower-id batchmate -> rejected
        DOC_SCHEMA,
    )
    gen2 = spark.createDataFrame(
        [(20, None, 2),         # NULL dup of gen-1 admitted doc -> rejected
         (21, "", 2),           # empty text == coalesced NULL -> rejected
         (22, "bye", 2)],       # unique short doc -> admitted
        DOC_SCHEMA,
    )
    updates = os.path.join(work, "updates")
    os.makedirs(updates)
    _stage(spark, gen1, os.path.join(updates, "g1.parquet"), 1.7e9 + 1)
    _stage(spark, gen2, os.path.join(updates, "g2.parquet"), 1.7e9 + 2)
    corpus = os.path.join(work, "corpus")
    ingest_stream_dedup(
        spark, updates + "/g*.parquet",
        "doc_id bigint, text string, gen bigint",
        base, corpus,
    )
    rows = {
        r.doc_id: r.gen
        for r in read_admitted(spark, corpus, DOC_SCHEMA).collect()
    }
    assert rows == {1: 0, 10: 1, 22: 2}
    # and the index holds no NULL band keys / NULL shingle elements
    bands = spark.read.parquet(os.path.join(corpus, "index", "bands", "*"))
    assert bands.where(F.col("key").isNull()).count() == 0
    sh = spark.read.parquet(os.path.join(corpus, "index", "shingles", "*"))
    assert sh.where(F.exists("sh", lambda x: x.isNull())).count() == 0


def test_unpersist_tracked_deregisters(spark):
    from pipeline_calculator_v3_spark import caching

    df = spark.range(5)
    caching.persist_tracked(df)
    assert any(t is df for t, _ in caching._PINNED)
    caching.unpersist_tracked(df)
    assert not any(t is df for t, _ in caching._PINNED)


def test_null_id_docs_are_never_admitted(spark, tmp_path_factory):
    """A NULL doc_id is untrackable by the index (every band/shingle
    equi-join drops it), so before the r13 gate it was ADMITTED on every
    redelivery — unbounded exact duplicates.  NULL-id docs must be
    dropped outright, batches and seed alike, and redelivery must stay
    byte-stable."""
    work = str(tmp_path_factory.mktemp("ingest_nullid"))
    base = spark.createDataFrame(
        [(1, "seed doc with plenty of tokens to shingle", 0),
         (None, "null id seed doc should vanish entirely", 0)],
        DOC_SCHEMA,
    )
    batch = spark.createDataFrame(
        [(None, "null id batch doc must not be admitted", 1),
         (10, "a fresh unique document with many tokens", 1)],
        DOC_SCHEMA,
    )
    updates = os.path.join(work, "updates")
    os.makedirs(updates)
    _stage(spark, batch, os.path.join(updates, "g1.parquet"), 1.7e9 + 1)
    corpus = os.path.join(work, "corpus")
    ingest_stream_dedup(
        spark, updates + "/g*.parquet",
        "doc_id bigint, text string, gen bigint",
        base, corpus,
    )
    rows = {
        r.doc_id: r.gen
        for r in read_admitted(spark, corpus, DOC_SCHEMA).collect()
    }
    assert rows == {1: 0, 10: 1}
    # redelivery of the same batch admits nothing new (idempotent)
    admit_batch(spark, batch, 0, corpus)
    rows2 = {
        r.doc_id: r.gen
        for r in read_admitted(spark, corpus, DOC_SCHEMA).collect()
    }
    assert rows2 == rows


def test_failed_batch_releases_caches(spark, tmp_path):
    """review r13: an exception mid-batch used to leak every persisted
    frame of the attempt — the cleanup now runs in a finally."""
    from pipeline_calculator_v3_spark import caching

    work = str(tmp_path / "corpus_fail")
    # no index dirs exist -> _gen_paths raises FileNotFoundError inside
    # the body, AFTER the stager pinned its frames
    batch = spark.createDataFrame(
        [(1, "some document text that shingles fine", 1)], DOC_SCHEMA
    )
    before = len(caching._PINNED)
    with pytest.raises(Exception):
        admit_batch(spark, batch, 0, work)
    assert len(caching._PINNED) == before, "failure path leaked pinned frames"
