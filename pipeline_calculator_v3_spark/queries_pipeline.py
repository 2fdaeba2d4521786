"""Training-data pipeline queries: deterministic sampling, vocabulary
statistics, benchmark decontamination, and corpus profiling.

These four cover the curation steps between raw corpus and training shard
that the dedup/similarity/quality modules (queries_textml.py) don't:
reproducible subsetting, token-frequency vocabularies, train/test-overlap
detection, and distributional profiling.  Every query is oracle-checkable —
the hash function (md5), tokenizer regex, shingle construction, and
quantile interpolation are all written once and replayed exactly in the
DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import persist_tracked
from .functions.text import fingerprint_md5, shingles_from_tokens, tokens
from .operators.dedup import (
    MD5_BAND_IDS_SQL,
    MD5_HASHES,
    MD5_ROWS,
    SHINGLE_N,
    SHINGLE_SQL,
)
from .operators.sampling import hash_sample_predicate
from .queries import query, t


from .operators.partitioning import spread_small_input as _spread  # noqa: E402

# Tokenizer fragment shared with queries_textml oracles (same regex).
from .functions.text import TOKENS_SQL as _TOKENS


# shard formulas replayed EXACTLY from operators/chunking.shard_sql —
# one spelling for Spark and the oracle (review r06: the old 1-byte
# prefix skewed any n_shards not dividing 256)
from .operators.chunking import shard_sql as _shard_sql
_SHARD16 = _shard_sql("CAST(doc_id AS VARCHAR)", 16)
_SHARD8 = _shard_sql("CAST(doc_id AS VARCHAR)", 8)


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------
@query(
    "q_sample_hash",
    oracle="""
WITH s AS (
    SELECT lang, md5(CAST(doc_id AS VARCHAR)) < '19999999' AS picked
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM s
GROUP BY lang
""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample (operators/sampling.py), verified per
    language stratum: the oracle replays the exact md5-threshold predicate,
    so the *row-level* selection (not just the rate) is value-checked.

    Scale shape: the predicate is a scan-side filter — zero shuffle for the
    sampling itself; the only exchange is the tiny per-lang rollup."""
    d = t(spark, sf_dir, "documents")
    picked = hash_sample_predicate(F.col("doc_id"), 0.1)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(picked.cast("bigint")).alias("n_sampled"),
    )


from .operators.sampling import weighted_key_sql as _wkey_sql

# ES key over doc_id with n_chars as the weight — ONE spelling, run
# verbatim by BOTH engines (see weighted_key_sql).
_WEIGHTED_KEY = _wkey_sql("CAST(doc_id AS STRING)", "n_chars")


@query(
    "q_sample_weighted",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
           ROUND({_WEIGHTED_KEY}, 12) AS samp_key
    FROM documents
)
SELECT doc_id, lang, weight, samp_key
FROM keyed
ORDER BY samp_key DESC, doc_id
LIMIT 50
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis via operators/sampling.weighted_key_sql): top-50
    documents by the ES key ``ln(u)/w`` with ``w = n_chars`` — the
    importance-sampling primitive for mixture construction (longer/higher-
    quality documents preferred proportionally to weight, yet the selected
    row SET is identical on every run, partitioning, and engine, unlike
    any RNG-based sampler).  The oracle replays the identical SQL text, so
    the row-level selection is value-checked.

    Selection stability: ranked on the ROUNDED key (12 dp — the md5-derived
    uniforms are identical across engines; only ln/division libm ulps
    differ, ~1e-16 relative) with doc_id as tiebreak.

    Scale shape: the key is scan-side arithmetic (one md5 per row, zero
    shuffle); the global top-50 is TakeOrderedAndProject — per-partition
    heaps, never a full sort."""
    d = _spread(t(spark, sf_dir, "documents"), spark)
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.round(F.expr(_WEIGHTED_KEY), 12).alias("samp_key"),
        )
        .orderBy(F.desc("samp_key"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Vocabulary statistics
# ---------------------------------------------------------------------------
@query(
    "q_vocab_topk",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKENS}) AS token FROM documents
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM tok
GROUP BY token
ORDER BY tf DESC, token
LIMIT 100
""",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by term frequency with document
    frequency — the tokenizer-fitting / stopword-discovery primitive.

    Scale shape: explode feeds a two-level hash aggregate (map-side partial
    combine collapses each partition's token counts before the shuffle — the
    exchange carries one row per distinct token per partition, not one per
    token occurrence), and the top-k is TakeOrderedAndProject, never a full
    sort.  Ties at the k-boundary are broken by token text so the result set
    is deterministic."""
    d = _spread(t(spark, sf_dir, "documents"), spark)
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------
@query(
    "q_contamination",
    oracle=f"""
WITH tk AS (
    SELECT doc_id, source, {_TOKENS} AS t FROM documents
),
sh AS (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 7, 0) + 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                 || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                 || ' ' || t[i+7]))) AS s
    FROM tk
),
bench AS (
    SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0
),
flagged AS (
    SELECT DISTINCT doc_id FROM sh
    WHERE doc_id % 10 <> 0 AND s IN (SELECT s FROM bench)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM flagged)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM documents
WHERE doc_id % 10 <> 0
GROUP BY source
""",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark overlap detection via 8-token shingle collision — the
    standard n-gram decontamination check (a train document is contaminated
    if ANY of its 8-gram shingles appears in the benchmark set).  Benchmark
    = ``doc_id % 10 == 0`` holdout, flagged counts rolled up per source.

    Scale shape: the benchmark shingle set is small by construction
    (benchmarks are thousands of docs against a 100 TB corpus), so it
    BROADCASTS — the train-side shingles stream past it map-side with no
    shuffle of corpus text; only (doc_id, flag) pairs reach the rollup.

    Staging contract (same trap as operators/dedup.py): the token array must
    be a PERSISTED column before the 8-reference shingle lambda — inlined,
    every ``element_at`` re-runs the tokenizer (measured 31 s -> 2.2 s at
    sf0.1).  Persisting also lets bench/train shingle their DISJOINT halves
    once each instead of both filtering a full-corpus shingle pass."""
    return _contamination_counts(t(spark, sf_dir, "documents"), spark)


def _contamination_counts(
    docs, spark, group_col: str = "source", pre_tokenized: bool = False
) -> DataFrame:
    """The decontamination dataflow over any (doc_id, text|t, group) corpus —
    shared by q_contamination (oracle face) and q_contamination_xl (scale
    stress).  See q_contamination's docstring for the plan shape.
    ``pre_tokenized`` inputs carry a token-array column ``t`` already
    distributed across partitions (skips tokenize + repartition)."""
    if pre_tokenized:
        staged = persist_tracked(docs.select("doc_id", group_col, "t"))
    else:
        staged = persist_tracked(
            _spread(
                docs.select(
                    "doc_id", group_col, tokens(F.lower(F.col("text"))).alias("t")
                ),
                spark,
            )
        )

    def shingled(frame):
        return frame.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("t"), 8))
            ).alias("s"),
        )

    is_bench = F.col("doc_id") % 10 == 0
    bench = shingled(staged.where(is_bench)).select("s").distinct()
    flagged = (
        shingled(staged.where(~is_bench))
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
        .withColumn("flag", F.lit(1))
    )
    train = staged.where(~is_bench).select("doc_id", group_col)
    return (
        train.join(F.broadcast(flagged), "doc_id", "left")
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.coalesce(F.col("flag"), F.lit(0))).alias("n_flagged"),
        )
    )


@query("q_contamination_xl")  # rows-only: synthetic growing corpus
def q_contamination_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination over a corpus that GROWS with sf (the documents table
    is fixed-size): the same one-doc-per-order synthetic corpus as
    q_dedup_minhash_xl (150k docs at sf0.1; planted families wherever
    (l_partkey, l_suppkey) repeats guarantee real cross-split collisions).
    Proves the broadcast-benchmark design scales with TRAIN size: the
    benchmark shingle set stays ~10% of corpus here, but at 100 TB it is
    fixed-size while train grows — train-side cost is one scan + map-side
    broadcast probe, no corpus shuffle."""
    from .queries_textml import _synth_docs_from_lineitem

    docs = _synth_docs_from_lineitem(
        t(spark, sf_dir, "lineitem"), as_tokens=True, spread=True
    ).withColumn("bucket", F.concat(F.lit("b"), F.pmod("doc_id", F.lit(16))))
    return _contamination_counts(
        docs, spark, group_col="bucket", pre_tokenized=True
    )


# ---------------------------------------------------------------------------
# Corpus profiling
# ---------------------------------------------------------------------------
@query(
    "q_quantile_profile",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99_chars
FROM documents
GROUP BY lang
""",
)
def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-distribution profile: exact linear-interpolation
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    cross-checked to 6 decimals).

    Scale note: exact percentile shuffles the grouped values; at 100 TB the
    drop-in scale path is ``percentile_approx`` (t-digest sketch, map-side
    mergeable, bounded memory) — kept exact here because exactness is what
    makes the query oracle-checkable, and the group count (languages) is
    tiny either way."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 6).alias("p99_chars"),
    )


@query("q_quantile_approx")  # rows-only: GK-sketch result depends on merge
def q_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of q_quantile_profile: ``percentile_approx``
    (Greenwald-Khanna sketch — map-side mergeable, bounded memory per
    group regardless of group size) over the lineitem prices.  Exact
    percentile shuffles every value of a group to one reducer; the sketch
    ships O(accuracy) summaries instead.  Accuracy 1000 bounds rank error
    at ~0.1% — tests/test_quantile_approx.py pins the delta against the
    exact path."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("p50_price"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(1000)).alias("p99_price"),
    )


# ---------------------------------------------------------------------------
# TF-IDF term scoring
# ---------------------------------------------------------------------------
@query(
    "q_tfidf",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKENS}) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, token
),
dfq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
),
n AS (
    SELECT COUNT(*) AS nd FROM documents
),
scored AS (
    SELECT doc_id, token, tf * ln((nd + 1.0) / (df + 1.0)) AS score
    FROM tf JOIN dfq USING (token) CROSS JOIN n
),
top AS (
    SELECT doc_id, token, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, token) AS rn
    FROM scored
)
SELECT doc_id, token AS top_term, ROUND(score, 6) AS tfidf
FROM top WHERE rn = 1
""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top TF-IDF term — the IR-standard salience score
    (smoothed idf = ln((N+1)/(df+1))), fully oracle-checked: term
    frequencies, document frequencies, corpus size, scoring and the
    deterministic (score desc, token asc) argmax all replay in SQL.

    Scale shape: tf is a two-level hash agg on (doc_id, token); df derives
    from tf (already one row per doc-term) with map-side combine; the
    df-side join is left to AQE — broadcast while the vocabulary fits,
    shuffle-hash beyond (a noisy 100 TB corpus has an unbounded token
    vocabulary, so forcing broadcast here would be a scale bug).  N rides a
    1-row broadcast cross join, never a driver-side collect."""
    d = _spread(t(spark, sf_dir, "documents"), spark)
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        tf.join(dfq, "token")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("nd") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"),
                F.round("score", 6).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# Chunking + sharding (training-shard packing)
# ---------------------------------------------------------------------------
@query(
    "q_chunk_documents",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, {_TOKENS} AS tk FROM documents
),
starts AS (
    SELECT doc_id, tk, unnest(range(0, len(tk), 16)) AS s
    FROM toks WHERE len(tk) > 0
)
SELECT doc_id,
       CAST(s // 16 AS BIGINT) AS chunk_idx,
       CAST(least(32, len(tk) - s) AS BIGINT) AS n_tokens,
       tk[CAST(s + 1 AS INT)] AS first_token,
       tk[CAST(least(s + 32, len(tk)) AS INT)] AS last_token
FROM starts
""",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (operators/chunking.py): max_len=32,
    stride=16 — every document becomes overlapping training-sized chunks,
    the standard long-document packing step.  The oracle replays window
    starts, lengths and boundary tokens exactly, so the chunk GEOMETRY is
    value-checked, not just row counts.

    Scale shape: tokenize once below the generator, sequence+posexplode
    fan-out, slice per chunk — all Column HOFs, zero Python, zero shuffle
    (the fan-out is map-side; output partitioning inherits the scan)."""
    from .operators.chunking import chunk_tokens

    return chunk_tokens(
        _spread(t(spark, sf_dir, "documents"), spark), max_len=32, stride=16
    )


@query(
    "q_shard_stats",
    oracle=f"""
WITH s AS (
    SELECT {_SHARD16} AS shard,
           len({_TOKENS}) AS ntok,
           n_chars
    FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY shard
""",
)
def q_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way shard assignment + per-shard balance stats
    (operators/chunking.py::shard_of — md5-prefix idiom shared with
    operators/sampling.py).  The oracle recomputes every document's shard
    from the same digest arithmetic, so the ASSIGNMENT is value-checked
    row-for-row, not just the aggregate balance.

    Scale shape: shard id is a scan-side projection (no RNG, no shuffle);
    a real shard writer would partitionBy(shard) on write — this query's
    only exchange is the 16-group stats rollup."""
    from .operators.chunking import shard_of

    d = _spread(t(spark, sf_dir, "documents"), spark)
    return (
        d.select(
            shard_of(F.col("doc_id"), 16),
            F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling + reproducible train/val/test split
# ---------------------------------------------------------------------------
@query(
    "q_sample_stratified",
    oracle="""
WITH s AS (
    SELECT lang,
           md5(CAST(doc_id AS VARCHAR)) <
             CASE lang WHEN 'en' THEN '80000000'
                       WHEN 'de' THEN '33333333'
                       ELSE '19999999' END AS picked
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM s
GROUP BY lang
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates (en 50%, de 20%, rest 10%) from ONE md5
    per row (operators/sampling.py::stratified_sample_predicate) — the
    curation shape where df.sampleBy's partition-seeded RNG would be
    unreproducible; here the exact row membership replays in the oracle."""
    from .operators.sampling import stratified_sample_predicate

    d = t(spark, sf_dir, "documents")
    picked = stratified_sample_predicate(
        F.col("doc_id"), F.col("lang"), {"en": 0.5, "de": 0.2}, 0.1
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(picked.cast("bigint")).alias("n_sampled"),
    )


@query(
    "q_split_train_eval",
    oracle="""
WITH s AS (
    SELECT n_chars,
           CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccccc' THEN 'train'
                WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split
""",
)
def q_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test split
    (operators/sampling.py::split_assign): assignment is a pure function of
    doc_id — stable under repartitioning, retries, and engines — and the
    oracle recomputes it per row, so the MEMBERSHIP is value-checked.
    Scan-side projection, single tiny rollup exchange."""
    from .operators.sampling import split_assign

    d = t(spark, sf_dir, "documents")
    return (
        d.select(split_assign(F.col("doc_id")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query("q_chunk_documents_xl")  # rows-only: synthetic growing corpus
def q_chunk_documents_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking over a corpus that GROWS with sf (same one-doc-per-order
    synthetic corpus as the other _xl stress twins; 150k docs at sf0.1) —
    proves the sliding-window fan-out stays a zero-shuffle map-side explode
    at corpus scale: rolled up to per-bucket chunk statistics so the output
    stays small while the full fan-out materializes."""
    from .operators.chunking import chunk_tokens
    from .queries_textml import _synth_docs_from_lineitem

    docs = _synth_docs_from_lineitem(t(spark, sf_dir, "lineitem"), spread=True)
    chunks = chunk_tokens(docs, max_len=32, stride=16)
    return (
        chunks.groupBy(F.pmod("doc_id", F.lit(16)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("chunk_idx").cast("bigint").alias("max_chunk_idx"),
        )
    )


@query(
    "q_embed_centroids",
    oracle="""
WITH idx AS (
    SELECT vec_id % 10 AS grp, embedding,
           unnest(range(len(embedding))) AS d
    FROM embeddings
)
SELECT grp, CAST(d AS BIGINT) AS dim,
       ROUND(AVG(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE)), 9) AS mean_val,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM idx
GROUP BY grp, dim
""",
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding centroids (mean pooling) in long form — the
    clustering/summarization primitive over a vector column, zero Python:
    posexplode to (group, dim, x), one hash aggregate.  The oracle replays
    the element-wise mean per dimension exactly (both engines average the
    same doubles; ROUND(9) absorbs summation-order noise).

    Scale shape: the explode is map-side (64 rows per vector), the single
    shuffle carries (group, dim) partial sums — map-side combine collapses
    each partition to |groups| x 64 rows regardless of corpus size."""
    e = _spread(t(spark, sf_dir, "embeddings"), spark)
    return (
        e.select(
            F.pmod("vec_id", F.lit(10)).alias("grp"),
            F.posexplode(F.col("embedding")).alias("dim", "x"),
        )
        .groupBy("grp", F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 9).alias("mean_val"),
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: documents -> fixed token-budget training examples
# ---------------------------------------------------------------------------
@query(
    "q_pack_sequences",
    oracle=f"""
WITH s AS (
    SELECT doc_id,
           {_SHARD8} AS shard,
           len({_TOKENS}) AS ntok
    FROM documents
    WHERE len({_TOKENS}) > 0
),
placed AS (
    SELECT shard, doc_id, ntok,
           COALESCE(SUM(ntok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
    FROM s
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(FLOOR(CAST(start AS DOUBLE) / 512) AS BIGINT) AS example_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM placed
GROUP BY shard, example_id
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-slice sequence packing (operators/packing.py): documents
    laid end-to-end per shard, cut every 512 tokens, a document owning the
    example its span STARTS in.  The oracle replays the md5 shard digit,
    the window cumsum, and the integer cut arithmetic exactly — the packing
    LAYOUT is value-checked per example, not just the totals.

    Scale shape: only (doc_id, ntok) pairs enter the per-shard window (the
    text stays in the scan); shards are the unit of parallelism, so the
    global-order serialization a naive packer hits never exists."""
    from .operators.packing import pack_sequences

    return pack_sequences(
        _spread(t(spark, sf_dir, "documents"), spark), budget=512, n_shards=8
    )


# ---------------------------------------------------------------------------
# Boilerplate span mining: most-duplicated 8-gram spans across the corpus
# ---------------------------------------------------------------------------
@query(
    "q_boilerplate_spans",
    oracle=f"""
WITH tk AS (
    SELECT doc_id, {_TOKENS} AS t FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 7, 0) + 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                 || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                 || ' ' || t[i+7]))) AS s
    FROM tk
)
SELECT s AS span, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sh
GROUP BY s
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, span
LIMIT 20
""",
)
def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal boilerplate mining: the 8-token spans shared by the
    most documents (doc-distinct shingles, so a span repeating inside one
    document counts once).  The within-corpus complement of
    q_contamination's train-vs-benchmark overlap — at curation time this is
    how template/header boilerplate is found before it skews training.

    Scale shape: shingles explode map-side from a persisted token-array
    stage (the HOF-inlining trap documented in q_contamination — inlined,
    the 8 element_at references re-run the tokenizer); ONE shuffle on the
    span for the doc-count aggregate (map-side combine collapses repeats),
    and TakeOrderedAndProject bounds the driver at 20 rows.  The HAVING >= 2
    prunes the long unique tail before the sort."""
    staged = persist_tracked(
        _spread(
            t(spark, sf_dir, "documents").select(
                # lower() matches the oracle's _TOKENS macro — the span
                # STRINGS are in the output here, so (unlike the count-only
                # consumers) case normalization is parity-load-bearing
                "doc_id", tokens(F.lower(F.col("text"))).alias("t")
            ),
            spark,
        )
    )
    spans = staged.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("t"), 8))).alias(
            "span"
        ),
    )
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "span")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Mixture planning: per-source sampling rates toward target weights
# ---------------------------------------------------------------------------
@query(
    "q_mixture_plan",
    oracle=f"""
WITH src AS (
    SELECT source,
           CASE CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) % 3
                WHEN 0 THEN 8.0 WHEN 1 THEN 2.0 ELSE 1.0 END AS weight,
           SUM(len({_TOKENS})) AS n_tokens
    FROM documents
    GROUP BY source
),
tot AS (
    SELECT 0.5 * SUM(n_tokens) AS target,
           SUM(weight * n_tokens) AS wsum
    FROM src
)
SELECT s.source, CAST(s.n_tokens AS BIGINT) AS n_tokens, s.weight,
       ROUND(LEAST(1.0, 0.5 * s.weight * (SELECT SUM(n_tokens) FROM src)
                        / t.wsum), 9) AS rate,
       ROUND(LEAST(1.0, 0.5 * s.weight * (SELECT SUM(n_tokens) FROM src)
                        / t.wsum) * s.n_tokens, 3) AS expected_tokens
FROM src s, tot t
ORDER BY s.source
""",
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning: given per-source importance weights and a
    global token budget (50% of the corpus), compute each source's sampling
    rate under weighted-proportional allocation, clamped at 1.0 (a
    high-weight source cannot be sampled above its size — the clamp is
    load-bearing: weight-8 sources exceed 1 and hit it).  The downstream
    sampler is q_sample_hash's md5-threshold predicate at these rates.

    Scale shape: one per-source aggregate over a scan-side token count,
    one single-row global aggregate broadcast back — the plan itself never
    touches text after the scan."""
    d = t(spark, sf_dir, "documents")
    weight = F.when(
        F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 3 == 0, 8.0
    ).when(
        F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 3 == 1, 2.0
    ).otherwise(1.0)
    src = d.groupBy("source").agg(
        F.first(weight).alias("weight"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    tot = src.agg(
        F.sum("n_tokens").alias("corpus_tokens"),
        F.sum(F.col("weight") * F.col("n_tokens")).alias("wsum"),
    )
    rate = F.least(
        F.lit(1.0),
        0.5 * F.col("weight") * F.col("corpus_tokens") / F.col("wsum"),
    )
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "weight",
            F.round(rate, 9).alias("rate"),
            F.round(rate * F.col("n_tokens"), 3).alias("expected_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Order-independent table checksum (replication / CDC validation)
# ---------------------------------------------------------------------------
@query(
    "q_table_checksum",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST('0x' || substr(md5(
                CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus), 1, 12)
            AS BIGINT) % 1000000007) AS BIGINT) AS checksum
FROM orders
GROUP BY o_orderpriority
""",
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per partition group — the
    replication/CDC validation primitive: two sides of a copy compare
    (n_rows, checksum) per group instead of shipping rows.  Row digest =
    md5 over a '|'-joined canonical string of the key columns (types
    rendered identically by both engines: ints via CAST, strings verbatim);
    the SUM of per-row 48-bit digest residues is commutative, so the
    checksum is invariant to partitioning, ordering, and retries.

    The per-row `% 1000000007` bounds the sum: group_rows x 1e9 stays
    far inside int64 until ~9e9 rows per group — beyond that a production
    deployment re-mods the rollup or widens to decimal(38), same plan.

    Scale shape: pure map-side digest + one hash aggregate on the group
    key; nothing but (group, residue) enters the exchange."""
    o = t(spark, sf_dir, "orders")
    digest = F.md5(
        F.concat_ws(
            "|", F.col("o_orderkey").cast("string"), F.col("o_orderstatus")
        )
    )
    from .functions.checksum import digest_residue

    residue = digest_residue(digest)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(residue).cast("bigint").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Embedding quantization: int8 compression + reconstruction error audit
# ---------------------------------------------------------------------------
@query(
    "q_embed_quantize",
    oracle="""
WITH base AS (
    SELECT vec_id, label,
           CAST(list_min(embedding) AS DOUBLE) AS mn,
           CAST(list_max(embedding) AS DOUBLE) AS mx,
           embedding
    FROM embeddings
),
ex AS (
    SELECT vec_id, label, mn, (mx - mn) / 255.0 AS scale,
           CAST(x AS DOUBLE) AS x
    FROM base, unnest(embedding) AS u(x)
),
err AS (
    SELECT label,
           CASE WHEN scale > 0
                THEN ABS(x - (mn + FLOOR((x - mn) / scale + 0.5) * scale))
                ELSE 0.0 END AS e
    FROM ex
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       ROUND(AVG(e), 9) AS avg_err,
       ROUND(MAX(e), 9) AS max_err
FROM err
GROUP BY label
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization audit: per-vector min/max affine scale,
    nearest-level quantization, and the per-label reconstruction-error
    profile — the storage-compression decision a 100 TB embedding corpus
    runs before committing to int8 shards.  Quantization rounds via
    FLOOR(r + 0.5) in BOTH engines (F.round/DuckDB round have different
    .5-tie conventions; floor-shift has one), floats widen to double with
    identical casts, and ROUND(9) on the aggregates absorbs summation
    order.

    Scale shape: min/max are per-row HOFs in the scan projection, the
    explode is map-side, and the single shuffle carries (label, err)
    partials into a bounded aggregate."""
    e = _spread(t(spark, sf_dir, "embeddings"), spark)
    base = e.select(
        "vec_id",
        "label",
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
        "embedding",
    )
    ex = base.select(
        "label",
        "mn",
        ((F.col("mx") - F.col("mn")) / 255.0).alias("scale"),
        F.explode("embedding").alias("xf"),
    ).select("label", "mn", "scale", F.col("xf").cast("double").alias("x"))
    recon = F.col("mn") + F.floor(
        (F.col("x") - F.col("mn")) / F.col("scale") + 0.5
    ) * F.col("scale")
    err = F.when(F.col("scale") > 0, F.abs(F.col("x") - recon)).otherwise(0.0)
    return (
        ex.select("label", err.alias("e"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.round(F.avg("e"), 9).alias("avg_err"),
            F.round(F.max("e"), 9).alias("max_err"),
        )
    )


@query("q_pack_sequences_xl")  # rows-only: synthetic growing corpus
def q_pack_sequences_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the growing one-doc-per-order corpus (150k
    docs at sf0.1) — proves the packing layout stays per-shard parallel at
    corpus scale: 64 shards, each an independent window over (doc_id,
    ntok) pairs, rolled up to per-shard example statistics so the output
    stays bounded while the full layout materializes."""
    from .operators.packing import pack_sequences
    from .queries_textml import _synth_docs_from_lineitem

    docs = _synth_docs_from_lineitem(t(spark, sf_dir, "lineitem"), spread=True)
    packed = pack_sequences(docs, budget=512, n_shards=64)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_example_tokens"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries sketch + exact recount
# ---------------------------------------------------------------------------
@query(
    "q_heavy_hitters",
    oracle=f"""
WITH tok AS (
    SELECT unnest({_TOKENS}) AS value FROM documents
)
SELECT value, CAST(COUNT(*) AS BIGINT) AS n
FROM tok GROUP BY value
ORDER BY n DESC, value
LIMIT 20
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens via the two-pass Misra-Gries operator
    (operators/sketches.py): bounded per-partition summaries nominate
    candidates (the exchange carries <= capacity rows per partition, not
    one row per distinct value), then ONLY candidates are recounted
    exactly.  The MG undercount bound (n/capacity, additive under merge)
    guarantees the candidate set is a superset of the true top-k for this
    corpus's frequency profile, so the final exact top-k is deterministic
    — which is why an approximate-sketch pipeline can carry a full value
    oracle.  tests/test_sketches.py pins the partitioning-invariance the
    guarantee promises.

    Scale note: vocab_topk's exact two-level aggregate is the right plan
    while the distinct-value set fits a shuffle; this is the bounded-state
    path for when it doesn't (URLs, n-grams, user ids)."""
    from .operators.sketches import misra_gries_topk

    d = _spread(t(spark, sf_dir, "documents"), spark)
    toks = d.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    return misra_gries_topk(toks, "token", k=20, capacity=256)


# ---------------------------------------------------------------------------
# Zipf profile: frequency-of-frequencies histogram
# ---------------------------------------------------------------------------
@query(
    "q_zipf_profile",
    oracle=f"""
WITH tok AS (
    SELECT unnest({_TOKENS}) AS token FROM documents
),
tf AS (
    SELECT token, COUNT(*) AS c FROM tok GROUP BY token
)
SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(MIN(c) AS BIGINT) AS min_count,
       CAST(MAX(c) AS BIGINT) AS max_count
FROM tf
GROUP BY log2_bucket
""",
)
def q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies (Zipf) profile: how many distinct token
    TYPES fall in each power-of-two occurrence bucket — the corpus-health
    fingerprint curation monitors across snapshots (a boilerplate
    injection shifts mass to high buckets; OCR noise inflates the
    singleton bucket).  A double aggregation — token counts, then a
    histogram OVER the counts — whose second stage is only as wide as the
    vocabulary.  The log2 bucket is computed EXACTLY as an integer bit
    length (length(bin(c)) - 1, identical in both engines) — a
    FLOOR(LN(c)/LN(2)) formulation would ride on libm-vs-JVM last-ulp
    agreement, which IEEE does not guarantee across platforms.

    Scale shape: the first aggregate is the only corpus-wide shuffle
    (map-side combine on token); the histogram stage aggregates the
    already-small type table."""
    d = _spread(t(spark, sf_dir, "documents"), spark)
    tf = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bucket = (F.length(F.bin(F.col("c"))) - 1).cast("bigint")
    return tf.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.min("c").cast("bigint").alias("min_count"),
        F.max("c").cast("bigint").alias("max_count"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel: the whole pipeline as ONE oracle-backed query
# ---------------------------------------------------------------------------
_G8_DUCK = (
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]"
    " || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]"
)


@query(
    "q_curation_e2e",
    oracle=rf"""
WITH tk AS (
    SELECT doc_id, text, {_TOKENS} AS t FROM documents
),
base AS (
    SELECT doc_id, text, t, len(t) AS ntok FROM tk WHERE len(t) > 0
),
quality AS (
    SELECT * FROM base WHERE ntok >= 30
),
exact AS (
    SELECT doc_id, text, t, ntok FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            ORDER BY doc_id) AS rn
        FROM quality
    ) WHERE rn = 1
),
sh3 AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(t) - {SHINGLE_N - 1}, 0) + 1),
                         {SHINGLE_SQL})) AS sh
    FROM exact
),
sigs AS (
    SELECT doc_id, sh,
           list_transform(range(0, {MD5_HASHES}), i ->
               list_aggregate(list_transform(sh,
                   s -> md5(s || '|' || CAST(i AS VARCHAR))), 'min')) AS sig
    FROM sh3 WHERE len(sh) > 0
),
bands AS (
    SELECT doc_id,
           CAST(b AS VARCHAR) || ':' ||
           list_aggregate(sig[b*{MD5_ROWS}+1 : b*{MD5_ROWS}+{MD5_ROWS}], 'string_agg', ',') AS key
    FROM sigs CROSS JOIN (VALUES {MD5_BAND_IDS_SQL}) AS tb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM bands a JOIN bands b ON a.key = b.key AND a.doc_id < b.doc_id
),
neardup AS (
    SELECT DISTINCT id2 AS doc_id FROM (
        SELECT id1, id2,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS j
        FROM cand
        JOIN sh3 sa ON sa.doc_id = cand.id1
        JOIN sh3 sb ON sb.doc_id = cand.id2
    ) WHERE j >= 0.5
),
dedup AS (
    SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
),
bsh AS (
    SELECT DISTINCT unnest(list_distinct(list_transform(
        range(1, greatest(len(t) - 7, 0) + 1), {_G8_DUCK}))) AS s
    FROM base WHERE doc_id % 10 = 0
),
tsh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(t) - 7, 0) + 1), {_G8_DUCK}))) AS s
    FROM dedup WHERE doc_id % 10 <> 0
),
contaminated AS (
    SELECT DISTINCT doc_id FROM tsh WHERE s IN (SELECT s FROM bsh)
),
clean AS (
    SELECT * FROM dedup
    WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
sampled AS (
    SELECT * FROM clean WHERE md5(CAST(doc_id AS VARCHAR)) < '80000000'
)
SELECT CAST(0 AS BIGINT) AS stage_no, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens FROM base
UNION ALL SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM quality
UNION ALL SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM exact
UNION ALL SELECT 3, 'near_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM dedup
UNION ALL SELECT 4, 'decontaminated', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM clean
UNION ALL SELECT 5, 'sampled', CAST(COUNT(*) AS BIGINT), CAST(SUM(ntok) AS BIGINT) FROM sampled
""",
)
def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one query — the repo's training-data
    operators composed end-to-end, with the funnel (docs and tokens
    surviving each stage) value-gated against a DuckDB replay of every
    stage:

      raw -> quality (>=30 tokens) -> exact dedup (normalized md5
      fingerprint via fingerprint_md5, min-doc_id winner) -> near-dedup (md5 MinHash 16x4 LSH, drop the
      higher id of each >=0.5-Jaccard pair) -> decontamination (drop train
      docs sharing an 8-gram with the doc_id%10==0 benchmark holdout) ->
      deterministic 50% hash sample.

    Each stage reuses the SAME operator the standalone queries use
    (minhash_lsh_pairs_md5, shingles_from_tokens, hash_sample_predicate),
    so this is an integration gate over real composition, not a re-spelled
    pipeline.  The synthetic corpus has no exact duplicates, so the
    exact-dedup stage passes everything through — the stage is still
    exercised (fingerprint + window), its discrimination is covered by
    test_dedup_exact fixtures.

    Scale shape per stage: quality is a scan-side filter; exact dedup is
    one fingerprint-keyed shuffle; near-dup is the banded-LSH bucket join
    (never all-pairs); decontamination broadcasts the benchmark shingle
    set; sampling is a scan-side md5-threshold filter.  Stage frames are
    persisted once and reused by both the next stage and the stage
    rollup, so lineage does not re-run the funnel per count; the six
    1-row aggregates union at driver scale."""
    stages = curation_stages(spark, sf_dir)
    out = None
    for i, (name, frame) in enumerate(stages):
        row = (
            frame.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("ntok").cast("bigint").alias("n_tokens"),
            )
            .select(
                F.lit(i).cast("bigint").alias("stage_no"),
                F.lit(name).alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def curation_stages(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, DataFrame]]:
    """The funnel's stage frames over the documents table, in order —
    q_curation_e2e rolls these up; downstream consumers (tests, the
    dataset sink) take the last frame as the curated corpus."""
    return curation_stages_from(
        _spread(t(spark, sf_dir, "documents"), spark)
    )


def curation_stages_from(
    d: DataFrame, scrub: bool = False
) -> list[tuple[str, DataFrame]]:
    """The funnel over ANY (doc_id, text) corpus frame.  Each intermediate
    is persisted so a consumer that both inspects a stage and writes the
    survivors does not re-run the funnel.

    ``scrub=True`` inserts the PII-redaction stage (functions/scrub.py)
    after quality filtering — text, tokens and token counts downstream of
    it are recomputed over the REDACTED text, so fingerprints/shingles
    never embed raw PII.  Off by default: the synthetic corpus carries no
    PII and q_curation_e2e's oracle replays the unscrubbed funnel
    (redaction semantics are value-gated separately by q_scrub_pii)."""
    from pyspark.sql import Window

    from .operators.dedup import minhash_lsh_pairs_md5
    base = persist_tracked(
        d.select("doc_id", "text", tokens(F.lower(F.col("text"))).alias("t"))
        .withColumn("ntok", F.size("t"))
        .where(F.col("ntok") > 0)
    )
    quality = persist_tracked(base.where(F.col("ntok") >= 30))
    quality_stage = quality  # pre-scrub frame for the stage report
    scrub_stage: list[tuple[str, DataFrame]] = []
    if scrub:
        from .functions.scrub import scrub_text

        quality = persist_tracked(
            quality.select(
                "doc_id", scrub_text(F.col("text")).alias("text")
            )
            .withColumn("t", tokens(F.lower(F.col("text"))))
            .withColumn("ntok", F.size("t"))
        )
        scrub_stage = [("scrubbed", quality)]
    # the repo's canonical exact-dedup key (fingerprint_md5 = md5 of
    # whitespace-collapsed lowercased text), NOT raw md5(text) — the same
    # normalization q_dedup_exact uses, replayed in the oracle
    w = Window.partitionBy(fingerprint_md5(F.col("text"))).orderBy("doc_id")
    exact = persist_tracked(
        quality.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    flagged = (
        minhash_lsh_pairs_md5(
            exact.select("doc_id", "t"), min_jaccard=0.5, tokens_col="t"
        )
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    dedup = persist_tracked(exact.join(flagged, "doc_id", "left_anti"))

    def _g8(frame: DataFrame) -> DataFrame:
        return frame.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("t"), 8))
            ).alias("s"),
        )

    bench_sh = _g8(base.where(F.col("doc_id") % 10 == 0)).select("s").distinct()
    train = dedup.where(F.col("doc_id") % 10 != 0)
    contaminated = (
        _g8(train)
        .join(F.broadcast(bench_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = persist_tracked(train.join(contaminated, "doc_id", "left_anti"))
    sampled = clean.where(hash_sample_predicate(F.col("doc_id"), 0.5))

    return [
        ("raw", base),
        ("quality", quality_stage),
        *scrub_stage,
        ("exact_dedup", exact),
        ("near_dedup", dedup),
        ("decontaminated", clean),
        ("sampled", sampled),
    ]


from .functions.scrub import scrub_sql as _scrub_sql  # noqa: E402
from .functions.scrub import scrub_with_counts  # noqa: E402

_SCRUB_CLEAN, _SCRUB_COUNTS = _scrub_sql("t0")

# The synthetic corpus carries no PII, so the query INJECTS deterministic
# spans keyed on doc_id — identically on both sides — before scrubbing;
# otherwise the oracle verdict would be a zero-hit triviality.
_SCRUB_INJECT_SQL = (
    "d.text"
    " || CASE WHEN d.doc_id % 3 = 0 THEN ' contact user'"
    " || CAST(d.doc_id AS VARCHAR) || '@example.com now' ELSE '' END"
    " || CASE WHEN d.doc_id % 5 = 0 THEN ' call 415-555-'"
    " || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN d.doc_id % 7 = 0 THEN ' from 10.0.'"
    " || CAST(d.doc_id % 256 AS VARCHAR) || '.'"
    " || CAST((d.doc_id * 7) % 256 AS VARCHAR) ELSE '' END"
)


@query(
    "q_scrub_pii",
    oracle=f"""
WITH inj AS (
    SELECT d.doc_id, {_SCRUB_INJECT_SQL} AS t0 FROM documents d
)
SELECT doc_id,
       {_SCRUB_CLEAN} AS clean_text,
       {_SCRUB_COUNTS['email']} AS n_email,
       {_SCRUB_COUNTS['ip']} AS n_ip,
       {_SCRUB_COUNTS['phone']} AS n_phone
FROM inj
""",
)
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/scrub.py): email -> IP -> phone
    regexp_replace cascade with per-rule hit counts, the curation stage
    between quality filtering and packing.  Regexes are Java/RE2-portable
    and the oracle replays the cascade from the SAME rule table
    (scrub_sql), so redaction semantics are value-gated, not rows-only.

    Scale shape: scan-side whole-stage-codegen Column expressions — one
    linear pass per rule, no shuffle, no UDF."""
    d = _spread(t(spark, sf_dir, "documents"), spark)
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    staged = d.select("doc_id", injected.alias("t0"))
    clean, counts = scrub_with_counts(F.col("t0"))
    return staged.select(
        "doc_id",
        clean.alias("clean_text"),
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
    )


# JSONL round trip: documents -> .jsonl shards -> permissive re-read with
# quarantine, value-gated byte-for-byte against the parquet originals.
# The two planted malformed lines ('{broken' = 7 chars, '[1,2' = 4) land
# in the '__corrupt__' bucket: 2 lines, 11 raw chars, 0 text matches.
@query(
    "q_jsonl_roundtrip",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars_total,
       CAST(COUNT(*) AS BIGINT) AS n_text_match
FROM documents
GROUP BY source
UNION ALL
SELECT '__corrupt__', 2, 11, 0
""",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round trip (sources/formats.py): write the
    documents table as .jsonl shards, re-read them under the explicit
    schema with PERMISSIVE quarantine (two planted malformed lines land
    in `_corrupt_record`, never kill the scan), and prove per-source
    identity — `n_text_match` counts docs whose (text, lang, source,
    n_chars) survive the trip null-safe-equal, and the oracle asserts it
    equals the source's row count.  The quarantine bucket reports the
    planted lines' count and raw length.

    Scale shape: JSONL splits by newline (parallel shard parse, Jackson
    JVM-side, no UDF); the comparison join is doc_id-keyed; the report
    is a tiny per-source rollup materialized before temp cleanup."""
    import os
    import shutil
    import tempfile

    from .sources.formats import read_jsonl_quarantined, write_jsonl

    d = t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="pcv3_jsonl_")
    try:
        write_jsonl(d, work)
        with open(os.path.join(work, "corrupt.json"), "w") as f:
            f.write("{broken\n[1,2\n")
        parsed, quarantined = read_jsonl_quarantined(
            spark, work,
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        )
        o = d.select(
            "doc_id",
            F.col("text").alias("o_text"),
            F.col("lang").alias("o_lang"),
            F.col("source").alias("o_source"),
            F.col("n_chars").alias("o_n_chars"),
        )
        per_source = (
            parsed.join(o, "doc_id")
            .select(
                "source",
                F.length("text").alias("len_text"),
                (
                    F.col("text").eqNullSafe(F.col("o_text"))
                    & F.col("lang").eqNullSafe(F.col("o_lang"))
                    & F.col("source").eqNullSafe(F.col("o_source"))
                    & F.col("n_chars").eqNullSafe(F.col("o_n_chars"))
                ).cast("long").alias("match"),
            )
            .groupBy("source")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.coalesce(F.sum("len_text"), F.lit(0))
                .cast("bigint")
                .alias("n_chars_total"),
                F.sum("match").cast("bigint").alias("n_text_match"),
            )
        )
        corrupt = quarantined.agg(
            F.lit("__corrupt__").alias("source"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.length("raw")), F.lit(0))
            .cast("bigint")
            .alias("n_chars_total"),
            F.lit(0).cast("bigint").alias("n_text_match"),
        )
        out = per_source.unionByName(corrupt)
        # materialize before the temp shards are deleted (bounded: one
        # row per source + the quarantine bucket)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# Epoch composition: the plan a training run reads — each doc's curriculum
# bucket (quality terciles), deterministic shuffle key and shard — all
# scan-side; the only aggregation is the one-row tercile thresholds,
# broadcast back (NO global ntile window: a single-partition window over
# the corpus is the thing to avoid at 100 TB, and percentile thresholds
# are the scalable spelling — approx_percentile is the documented swap at
# scale, exact here for the value gate).
def _epoch_plan_oracle() -> str:
    from .operators.classifier import quality_z_sql

    return f"""
WITH q AS (
    SELECT doc_id, ROUND({quality_z_sql()}, 6) AS z
    FROM documents
    WHERE len({_TOKENS}) > 0
),
th AS (
    SELECT quantile_cont(z, 1.0/3) AS p33, quantile_cont(z, 2.0/3) AS p66
    FROM q
)
SELECT d.doc_id,
       CAST(CASE WHEN q.z <= th.p33 THEN 1
                 WHEN q.z <= th.p66 THEN 2
                 ELSE 3 END AS BIGINT) AS bucket,
       CAST({_SHARD16.replace("doc_id", "d.doc_id")} AS BIGINT) AS shard,
       md5(CAST(d.doc_id AS VARCHAR)) AS skey
FROM documents d
LEFT JOIN q ON q.doc_id = d.doc_id
CROSS JOIN th
"""


@query("q_epoch_plan", oracle=_epoch_plan_oracle())
def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch composition plan: per document, its curriculum
    bucket (1 = lowest quality tercile .. 3 = highest, thresholds from
    the frozen classifier margin), its deterministic shuffle key (md5 of
    doc_id — the RNG-free epoch permutation, stable under retries), and
    its md5 shard (operators/chunking.py::shard_of).  A trainer sorts by
    (bucket, skey) within shard to get curriculum-ordered, shuffled,
    resumable epochs.

    Scale shape: everything per-doc is a scan-side projection; the ONLY
    aggregate is the one-row tercile threshold frame, broadcast back via
    crossJoin.  Docs with no tokens carry no margin and land in bucket 3
    (CASE fall-through, identical both engines).  At 100 TB the exact
    percentile swaps for approx_percentile — same plan shape, documented
    trade (the q_ppl_buckets pattern)."""
    from .operators.chunking import shard_of
    from .operators.classifier import classify_quality

    d = t(spark, sf_dir, "documents")
    q = classify_quality(d).select("doc_id", "z")
    th = q.agg(
        F.percentile("z", F.lit(1.0 / 3)).alias("p33"),
        F.percentile("z", F.lit(2.0 / 3)).alias("p66"),
    )
    return (
        d.select("doc_id")
        .join(q, "doc_id", "left")
        .crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            F.when(F.col("z") <= F.col("p33"), 1)
            .when(F.col("z") <= F.col("p66"), 2)
            .otherwise(3)
            .cast("bigint")
            .alias("bucket"),
            shard_of(F.col("doc_id"), 16).cast("bigint").alias("shard"),
            F.md5(F.col("doc_id").cast("string")).alias("skey"),
        )
    )


# ---------------------------------------------------------------------------
# Exact k-per-key sampling (r09, operators/sampling.py): exactly
# min(k, group size) deterministic uniform rows per source — the bounded
# per-stratum showcase sampler (k examples per source/language for eval
# cards and manual review).
# ---------------------------------------------------------------------------
_K_PER_KEY = 3


@query(
    "q_sample_k_per_key",
    oracle=f"""
SELECT source, doc_id FROM (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                       doc_id) AS rn
    FROM documents
) WHERE rn <= {_K_PER_KEY}
""",
)
def q_sample_k_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly {k} deterministic uniform documents per source
    (operators/sampling.py::sample_k_per_key): rank = md5 digest of the
    doc id — a fixed pseudo-random permutation, so the selection is
    uniform w.r.t. the data yet identical across runs, partitionings and
    engines (the naive ORDER BY rand() is neither reproducible nor
    oracle-checkable).

    Scale shape: ONE exchange on source; the rank<=k filter plans as
    Spark's WindowGroupLimit, so map tasks pre-prune to their local
    top-k BEFORE the shuffle (plan-gated in tests/test_sample_k_per_key
    .py) — a billion-row source moves k rows per map task, not a
    billion."""
    from .operators.sampling import sample_k_per_key

    d = t(spark, sf_dir, "documents").select("source", "doc_id")
    return sample_k_per_key(d, ["source"], _K_PER_KEY, "doc_id")


# ---------------------------------------------------------------------------
# Table-maintenance planning face (r11, operators/compaction.py — staged
# r10, faced per VERDICT r10 #3): small-file compaction groups over a
# synthetic manifest derived BIGINT-exactly from `part` (file_id =
# p_partkey, bytes = p_size*100 + p_partkey%97 — tiny through over-target
# sizes, ids deliberately non-contiguous).  The whole plan is integer
# arithmetic (exclusive cumsum `div` target), so both engines replay it
# bit-for-bit.
# ---------------------------------------------------------------------------
_COMPACT_TARGET = 2500


@query(
    "q_compaction_plan",
    oracle=f"""
WITH files AS (
    SELECT p_partkey AS file_id,
           CAST(p_size * 100 + p_partkey % 97 AS BIGINT) AS bytes
    FROM part
),
small AS (
    SELECT file_id, bytes,
           (SUM(bytes) OVER (ORDER BY file_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - bytes) // {_COMPACT_TARGET} AS group_id
    FROM files WHERE bytes < {_COMPACT_TARGET}
),
big AS (
    SELECT file_id, bytes,
           -row_number() OVER (ORDER BY file_id) AS group_id
    FROM files WHERE bytes >= {_COMPACT_TARGET}
)
SELECT file_id, bytes, TRUE AS compact, CAST(group_id AS BIGINT) AS group_id
FROM small
UNION ALL
SELECT file_id, bytes, FALSE, CAST(group_id AS BIGINT) FROM big
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the Delta OPTIMIZE / Iceberg
    rewrite_data_files maintenance pass (operators/compaction.py): files
    already at the 2500-byte target pass through solo (compact=false,
    negative group ids); smaller files pack greedily by id via an
    exclusive byte cumsum floor-divided by the target — streaming
    first-fit, overshoot bounded by one member file, no file ever split.

    Scale shape: the plan runs over the MANIFEST (thousands of rows per
    table), never the data — one ordered window over the small-file
    subset, zero UDFs, integer arithmetic end-to-end; the rewrite it
    schedules is exactly n_small file reads.  At fleet scale plans run
    per table/partition independently (group ids are frame-local by
    design).  Structural invariants (big-solo, bounded overshoot,
    randomized vs single-process reference) are property-tested in
    tests/test_compaction.py."""
    from .operators.compaction import compaction_plan

    files = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("file_id"),
        (F.col("p_size") * 100 + F.col("p_partkey") % 97)
        .cast("bigint")
        .alias("bytes"),
    )
    return compaction_plan(files, target_bytes=_COMPACT_TARGET)


# ---------------------------------------------------------------------------
# Batching-economics face (r11, operators/packing.py::padding_audit —
# staged r10, faced per VERDICT r10 #3): per power-of-two length bucket,
# what bucketed batching pays in pad tokens vs naive pad-to-max.  The
# bucket edge is a generated CASE ladder over integer comparisons (no
# log2/double anywhere) emitted from the same bucket_edges list the
# Column face folds over, so both engines replay BIGINT-exact; the waste
# fractions divide exact integers, giving identical doubles.
# ---------------------------------------------------------------------------
_PAD_SEQ = 512


def _padding_audit_oracle() -> str:
    from .operators.packing import padding_audit_cap_sql

    cap = padding_audit_cap_sql("ntok", _PAD_SEQ)
    return f"""
WITH staged AS (
    SELECT doc_id, least(len({_TOKENS}), {_PAD_SEQ}) AS ntok
    FROM documents
),
capped AS (
    SELECT doc_id, ntok, {cap} AS bucket_cap
    FROM staged WHERE ntok > 0
)
SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(bucket_cap - ntok) AS BIGINT) AS padded_bucketed,
       CAST(sum({_PAD_SEQ} - ntok) AS BIGINT) AS padded_naive,
       ROUND(sum(bucket_cap - ntok) / (count(*) * bucket_cap), 6)
           AS waste_bucketed,
       ROUND(sum({_PAD_SEQ} - ntok) / (count(*) * {_PAD_SEQ}), 6)
           AS waste_naive
FROM capped GROUP BY bucket_cap
"""


@query("q_padding_audit", oracle=_padding_audit_oracle())
def q_padding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the measurement behind choosing
    bucketed batching over naive pad-to-max (operators/packing.py::
    padding_audit): per bucket (cap = smallest power of two >= token
    count, clamped to [16, 512]; longer docs truncate), the doc count,
    real tokens, padded slots under bucketed vs naive batching, and both
    waste fractions — the table that directly prices the bucketing
    decision q_pack_sequences acts on.

    Scale shape: tokenization + the CASE-ladder bucket assignment are
    scan-side Column expressions; ONE hash aggregate on <= log2(seq_len)
    keys — token arrays never shuffle, only (bucket, count, sums)
    partials move.  Cell values and the DuckDB replay are pinned in
    tests/test_padding_audit.py."""
    from .operators.packing import padding_audit

    return padding_audit(t(spark, sf_dir, "documents"), seq_len=_PAD_SEQ)


# ---------------------------------------------------------------------------
# Selective compaction face (r13; dataset.py::optimize_dataset staged r12) —
# the write-path OPTIMIZE story the read-side z-order faces assume: a
# fragmented dataset (two appends -> up to two small files per lang
# partition) compacts to one file per partition, big/solo files carry over
# by hardlink, and content validates against the manifest before the swap.
# The q_jsonl_roundtrip write-then-verify pattern: deterministic layout by
# construction (each append coalesces to ONE task, so a lang dir holds
# exactly one file per half that has rows), so every report metric is
# SQL-derivable from `documents` alone.
# ---------------------------------------------------------------------------
@query(
    "q_optimize_dataset",
    oracle="""
WITH per_lang AS (
    SELECT lang, CAST(COUNT(DISTINCT doc_id % 2) AS BIGINT) AS nf
    FROM documents GROUP BY lang
)
SELECT 'chars_total' AS metric, CAST(SUM(n_chars) AS BIGINT) AS value
FROM documents
UNION ALL
SELECT 'files_after', CAST(COUNT(*) AS BIGINT) FROM per_lang
UNION ALL
SELECT 'files_before', CAST(SUM(nf) AS BIGINT) FROM per_lang
UNION ALL
SELECT 'groups_rewritten',
       CAST(COUNT(CASE WHEN nf >= 2 THEN 1 END) AS BIGINT) FROM per_lang
UNION ALL
SELECT 'rewritten_files',
       CAST(COALESCE(SUM(CASE WHEN nf >= 2 THEN nf END), 0) AS BIGINT)
FROM per_lang
UNION ALL
SELECT 'rows_total', CAST(COUNT(*) AS BIGINT) FROM documents
UNION ALL
SELECT 'validation_ok', CAST(1 AS BIGINT)
""",
)
def q_optimize_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents lang-partitioned in two halves (doc_id parity, one
    file per partition per half), OPTIMIZE with a generous byte target
    (every multi-file lang group rewrites to one file; lone files
    hardlink across untouched), and report the plan metrics plus the
    re-read row/char totals — the hash gates that compaction moved the
    files WITHOUT moving the data.

    Scale shape (dataset.py docstring): planning is Column arithmetic
    over the file LISTING (metadata); the rewrite reads exactly the
    small files, shuffles them once keyed by (partition, group), writes
    one file per group; carry-over is O(1) hardlinks.  A steady-state
    table pays for its small-file tail, never a full rewrite."""
    import os
    import shutil
    import tempfile

    from .dataset import optimize_dataset, write_dataset

    d = t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="pcv3_opt_")
    try:
        out = os.path.join(work, "ds")
        halves = [
            d.where(F.col("doc_id") % 2 == par).coalesce(1)
            for par in (0, 1)
        ]
        write_dataset(
            halves[0], out, partition_by=["lang"],
            key_cols=["doc_id", "n_chars"],
        )
        write_dataset(
            halves[1], out, partition_by=["lang"],
            key_cols=["doc_id", "n_chars"], mode="append",
        )
        report = optimize_dataset(spark, out, target_bytes=1 << 30)
        back = (
            spark.read.parquet(out)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("rows_total"),
                F.sum("n_chars").cast("bigint").alias("chars_total"),
            )
            .collect()[0]
        )
        rows = [
            ("chars_total", int(back.chars_total)),
            ("files_after", int(report["files_after"])),
            ("files_before", int(report["files_before"])),
            ("groups_rewritten", int(report["groups_rewritten"])),
            ("rewritten_files", int(report["rewritten_files"])),
            ("rows_total", int(back.rows_total)),
            ("validation_ok", int(bool(report["validation"]["ok"]))),
        ]
        return spark.createDataFrame(rows, "metric string, value bigint")
    finally:
        shutil.rmtree(work, ignore_errors=True)
