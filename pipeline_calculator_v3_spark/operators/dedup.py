"""Document deduplication operators — exact, MinHash+LSH, n-gram Jaccard.

North-star extensions for LLM-training-data pipelines (BASELINE.json): all
JVM-side Column expressions — signatures are computed with higher-order
functions over the shingle array (no explode of doc x seed x shingle rows, no
Python in the hot path).

Scale notes:
- exact dedup: one hash-groupBy on a 16-byte fingerprint, the cheapest
  possible shuffle key for 100 TB of text.
- MinHash: signatures are per-row map-side work (transform/aggregate HOFs);
  only the (doc_id, band_key) pairs shuffle — bands x 8 bytes per doc, not
  the text.  Candidate verification re-joins shingle arrays only for
  bucket-colliding pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..functions.text import (
    normalized_text,
    shingles_from_token_hashes,
    shingles_from_tokens,
    token_hashes,
    tokens,
)

# The md5 MinHash shape every oracle-backed face runs: 16 lanes in 4 bands
# of 4 over distinct word trigrams.  The oracle SQL is formatted from the
# same constants: the SHINGLE_N-gram lambda over a DuckDB token list ``t``
# and the band ids as VALUES rows.
MD5_HASHES = 16
MD5_BANDS = 4
MD5_ROWS = MD5_HASHES // MD5_BANDS
SHINGLE_N = 3
SHINGLE_SQL = "i -> " + " || ' ' || ".join(
    ["t[i]"] + [f"t[i+{k}]" for k in range(1, SHINGLE_N)]
)
MD5_BAND_IDS_SQL = ", ".join(f"({b})" for b in range(MD5_BANDS))


def fingerprint_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized-text md5: keep the lowest id per group.

    Deterministic winner (min id) — unlike dropDuplicates, whose survivor is
    partition-order dependent and not oracle-checkable.

    NULL text yields a NULL fingerprint, and groupBy buckets NULLs
    together — which would report unrelated (merely corrupt) documents as
    copies of each other and let a keep-policy drop all but one (review
    r11).  NULL-fingerprint rows are therefore quarantined as singleton
    groups (fp NULL, keep_id = own id, n_copies = 1): a missing text is
    evidence of nothing.
    """
    base = docs.select(
        F.md5(normalized_text(F.col("text"))).alias("fp"), F.col("doc_id")
    )
    grouped = (
        base.where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )
    singletons = base.where(F.col("fp").isNull()).select(
        "fp",
        F.col("doc_id").alias("keep_id"),
        F.lit(1).cast("bigint").alias("n_copies"),
    )
    return grouped.unionByName(singletons)


MAX_LONG = (1 << 63) - 1


def minhash_signature_from_hashes(hashes: Column, num_hashes: int = 32) -> Column:
    """MinHash signature (array<bigint>) from pre-hashed shingles.

    One pass: carries a ``num_hashes``-wide running-min vector through a
    single aggregate; per element the i-th hash variant is the cheap
    fixed-width ``xxhash64(h, i)`` (string-hash each shingle ONCE upstream —
    recomputing string hashes per seed was ~60x slower)."""
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(MAX_LONG).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(acc, seeds, lambda a, i: F.least(a, F.xxhash64(h, i))),
    )


def jaccard_verify(
    cand: DataFrame,
    left_staged: DataFrame,
    right_staged: DataFrame,
    left_id: str,
    right_id: str,
    min_jaccard: float,
) -> DataFrame:
    """Exact-Jaccard verification tail — ONE spelling for every consumer:
    the LSH self-join (:func:`_verify_candidates`), the bipartite
    incremental match (:func:`minhash_lsh_match_md5`), and the streaming
    admission gate (streaming/ingest.py) each re-spelled this predicate
    until r14; a threshold or NULL-semantics fix landing in one copy
    silently missed the others (review r13, the r12 shingle-NULL class).

    ``cand`` carries candidate pairs (``left_id``, ``right_id``); the two
    staged frames carry (``id``, ``sh``) distinct shingle sets.  Returns
    (``left_id``, ``right_id``, ``jaccard``) at or above the threshold."""
    scored = (
        cand.join(
            left_staged.select(
                F.col("id").alias(left_id), F.col("sh").alias("sh1")
            ),
            left_id,
        )
        .join(
            right_staged.select(
                F.col("id").alias(right_id), F.col("sh").alias("sh2")
            ),
            right_id,
        )
    )
    jac = (
        F.size(F.array_intersect("sh1", "sh2"))
        / F.size(F.array_union("sh1", "sh2"))
    ).alias("jaccard")
    return (
        scored.select(left_id, right_id, jac)
        .where(F.col("jaccard") >= min_jaccard)
    )


def _verify_candidates(with_bands, staged, join_keys, min_jaccard):
    """Shared LSH tail: band-bucket self-join -> distinct candidate pairs
    -> exact Jaccard on the staged distinct shingle sets -> threshold.
    One spelling for the xxhash64 and md5 variants (review r06: the two
    copies had already drifted cosmetically on the Jaccard cast)."""
    a = with_bands.alias("a")
    b = with_bands.alias("b")
    cand = (
        a.join(b, join_keys)
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    sh = staged.select("id", "sh")
    return jaccard_verify(cand, sh, sh, "id1", "id2", min_jaccard)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact Jaccard verify.

    Plan: per-doc signature (map-side) -> explode `bands` band keys ->
    self-join on (band, key) -> distinct candidate pairs -> exact Jaccard on
    distinct shingle sets -> threshold.  Returns (id1, id2, jaccard).

    Trigram shingles (shingles_from_token_hashes unrolls its combiner for
    n=3), like the md5 family.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}) — trailing signature lanes would be computed but "
            "silently excluded from banding, changing the LSH S-curve"
        )
    rows = num_hashes // bands
    # Materialize shingles -> hashes -> signature as real columns so each is
    # computed once per row (band extraction references `sig` 8x; inlining
    # the expression would re-run the whole signature per band).
    staged = (
        docs.select(
            F.col("doc_id").alias("id"),
            # token hashes MATERIALIZED before shingling: inline they would
            # re-evaluate per element_at reference (~40x hash work)
            token_hashes(F.col("text")).alias("th"),
        )
        # sub-shingle docs OUT before signatures: an empty shingle set keeps
        # the all-MAX_LONG init signature, so every short doc would band-
        # collide with every other and the Jaccard verify divides by zero
        .where(F.size("th") >= SHINGLE_N)
        .withColumn(
            "sh", F.array_distinct(shingles_from_token_hashes(F.col("th"), SHINGLE_N))
        )
        .drop("th")
        .withColumn("sig", minhash_signature_from_hashes(F.col("sh"), num_hashes))
    )
    # reused three times downstream (bands + two shingle re-joins); without
    # persistence the whole shingle/signature pipeline re-runs per use.
    # MEMORY_AND_DISK_DESER (what cache() means for DataFrames): the staged
    # rows carry full shingle arrays — corpus-scale state that must SPILL to
    # disk, not evict-and-recompute (or OOM), on a 100 TB run.  NOT the
    # serialized MEMORY_AND_DISK level: columnar-deser reads are ~4x faster
    # here (measured on the clusters query: 2.1 s vs 8.2 s at sf0.1).
    # Tracked so release_caches() can unpersist after the last
    # materialization — a long-lived app must not pin shingle state forever.
    staged = persist_tracked(staged)
    # Band join ships only (id, band, key) — never the shingle arrays (they
    # would otherwise shuffle 8x, once per band).  Shingles re-join by id
    # only for the deduped candidate pairs.
    with_bands = staged.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows)))
                    .alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    return _verify_candidates(with_bands, staged, ["band", "key"], min_jaccard)


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    min_jaccard: float = 0.5,
    tokens_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via md5-based banded MinHash-LSH — deterministic
    AND reproducible in ANSI SQL, so the whole probabilistic pipeline
    (signatures -> band keys -> candidate set -> exact-Jaccard verify) gets a
    value-level oracle verdict, not a rows-only pass.

    Signature element i = lexicographic MIN over shingles of
    ``md5(shingle || '|' || i)`` — md5 hex is identical in Spark and DuckDB
    and uniformly distributed, so ordering hex strings is as good a random
    permutation as ordering ints.  Computed as explode + ``MD5_HASHES``
    parallel min() aggregates: md5 and min stay inside whole-stage codegen
    with map-side partial aggregation, vs an interpreted HOF aggregate
    re-allocating a 16-wide array per shingle (measured 7.7 s -> ~2 s at
    sf0.1).  The xxhash64 path (:func:`minhash_lsh_pairs`) stays the scale
    throughput variant (fixed-width ints, one string-hash per shingle).

    Same downstream shape: band-key explode -> self-join on the key ->
    distinct pairs -> exact Jaccard on the distinct shingle sets ->
    threshold.  Docs with fewer than ``SHINGLE_N`` tokens have no shingles
    and are excluded (both engines; an empty-set signature would otherwise
    collide globally).

    ``tokens_col`` (optional): a pre-materialized token-array column to use
    instead of tokenizing ``text`` — pipeline callers that already
    carry the token arrays (q_curation_e2e) skip the duplicate tokenizer
    pass.  The caller owns the contract that the column equals
    ``tokens(normalized_text(text))``.  Note the curation caller passes
    ``tokens(lower(text))`` — equivalent TODAY only because ``tokens``
    splits on ``\\s+`` and drops empties, which makes normalized_text's
    trim/whitespace-collapse a no-op under tokenization (the lowercasing
    is shared).  That equivalence is pinned by a property test
    (tests/test_text_functions.py::test_tokens_normalization_equivalence),
    so a future tokenizer or normalization change that desyncs the funnel
    from the standalone dedup queries fails a test instead of silently
    shipping.
    """
    staged, _sig, with_bands = _md5_staged_bands(docs, tokens_col)
    return _verify_candidates(with_bands, staged, ["key"], min_jaccard)


def _md5_staged_bands(
    docs: DataFrame, tokens_col: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(staged, sig, with_bands) for the md5 LSH family over (doc_id,
    text): staged = (id, distinct shingle set), sig = (id, m0..m15
    signature lanes), with_bands = (id, band key).  Shared by the
    self-join pair face (:func:`minhash_lsh_pairs_md5`), the bipartite
    incremental-ingest match (:func:`minhash_lsh_match_md5`), and the
    sketch-accuracy probe (:func:`minhash_sketch_error_md5`), so the
    signature derivation
    cannot fork between them (review r08: the probe used to re-spell the
    lane formula).  Both staged and sig are persisted — callers with a
    bounded batch lifetime (streaming/ingest.py) unpersist all three
    returned frames after their terminal write."""
    staged = (
        docs.select(
            F.col("doc_id").alias("id"),
            # tokens MATERIALIZED before shingling (see shingles_from_tokens)
            (
                F.col(tokens_col)
                if tokens_col is not None
                else tokens(normalized_text(F.col("text")))
            ).alias("t"),
        )
        # short-doc filter on the CHEAP column: written as size(sh) > 0, the
        # optimizer pushes the predicate below the projection with the whole
        # shingle pipeline inlined, and every element_at reference inside the
        # HOF lambda re-runs the tokenizer (~50x/row; measured 0.25 s ->
        # 16.6 s).  size(t) >= n is the same predicate (shingles are empty
        # iff tokens < n) over one tokenizer pass.
        .where(F.size("t") >= SHINGLE_N)
        .select(
            "id",
            F.array_distinct(shingles_from_tokens(F.col("t"), SHINGLE_N)).alias("sh"),
        )
    )
    staged = persist_tracked(staged)  # reused: signature + shingle re-joins
    sig = persist_tracked(
        staged.select("id", F.explode("sh").alias("s"))
        .groupBy("id")
        .agg(
            *[
                F.min(F.md5(F.concat(F.col("s"), F.lit(f"|{i}")))).alias(f"m{i}")
                for i in range(MD5_HASHES)
            ]
        )
    )  # the band join reads both sides from this (id x 16 hex) table;
    # unpersisted, the explode+aggregate signature pass would run twice
    with_bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.concat_ws(
                            ",",
                            *[F.col(f"m{b * MD5_ROWS + j}") for j in range(MD5_ROWS)],
                        ),
                    )
                    for b in range(MD5_BANDS)
                ]
            )
        ).alias("key"),
    )
    return staged, sig, with_bands


def minhash_lsh_match_md5(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental-ingest near-dup match: which BATCH documents duplicate
    something already in the CORPUS — the shape a streaming/append pipeline
    actually runs (dedup the increment against the existing table without
    re-pairing the corpus against itself).

    Same md5 signature family as :func:`minhash_lsh_pairs_md5` (shared
    stager), but the band join is BIPARTITE: batch keys x corpus keys only
    — no corpus self-join, so per-ingest cost scales with
    |batch| x bucket-hit-rate, not |corpus|^2.  Candidates verify with
    exact Jaccard on the distinct shingle sets; each flagged batch doc
    reports its best corpus match (max Jaccard, lowest corpus id on exact
    ties, via map-side ``max_by``).

    Returns (batch_id, corpus_id, jaccard) with jaccard >= 0.5.
    """
    sb, _sigb, bb = _md5_staged_bands(batch)
    sc, _sigc, bc = _md5_staged_bands(corpus)
    cand = (
        bb.select(F.col("id").alias("batch_id"), "key")
        .join(bc.select(F.col("id").alias("corpus_id"), "key"), "key")
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    scored = jaccard_verify(cand, sb, sc, "batch_id", "corpus_id", 0.5)
    # min_by over (-jaccard, corpus_id): max jaccard, exact ties to the
    # LOWEST corpus id — only the (double) score is negated, so the rule
    # holds for string ids too (advice r08: -F.col(string) silently casts
    # to NULL, degrading the tiebreak to an arbitrary pick)
    best = F.min_by(
        F.struct(F.col("corpus_id").alias("corpus_id"),
                 F.col("jaccard").alias("jaccard")),
        F.struct((-F.col("jaccard")).alias("s"), F.col("corpus_id").alias("t")),
    )
    return (
        scored.groupBy("batch_id")
        .agg(best.alias("b"))
        .select(
            "batch_id",
            F.col("b.corpus_id").alias("corpus_id"),
            F.col("b.jaccard").alias("jaccard"),
        )
    )


def simhash64_md5_pairs(
    docs: DataFrame,
    max_hamming: int = 16,
    tokens_col: str | None = None,
) -> DataFrame:
    """SimHash near-dup candidate pairs on md5 bit lanes — the
    oracle-checkable face of simhash dedup (VERDICT r07 #6), exactly the
    minhash-md5 move (:func:`minhash_lsh_pairs_md5`) applied to simhash:
    every hash in the pipeline is md5, so signatures, blocking, candidates
    and hamming scores replay value-for-value in ANSI SQL.

    Bit j (0..63) of a document's simhash is the sign of
    ``sum over distinct shingles of (2*bit_j(md5(shingle)) - 1)`` where
    bit_j reads the md5 hex digest MSB-first (bit j lives in hex nibble
    j//4 at in-nibble position j%4 from the high bit).  Docs with no
    shingles (< ``SHINGLE_N`` tokens) are excluded on both engines — an
    all-zero signature would otherwise collide globally.

    Shape (the scale path, mirroring the measured minhash-md5 lesson that
    interpreted HOF aggregates re-allocating a wide array per shingle are
    ~4x slower than explode + codegen aggregates): explode distinct
    shingles -> md5 -> 16 nibble columns (one conv each) -> 64 parallel
    SUM aggregates with map-side combine -> pack to one BIGINT -> 16-bit
    prefix blocking -> ``salted_self_pairs`` (hot blocks split
    8^2 ways, identical output) -> XOR bit_count hamming filter.

    ``tokens_col`` (optional): a pre-materialized token-array column —
    same contract as :func:`minhash_lsh_pairs_md5`'s parameter (the
    caller owns equality with ``tokens(normalized_text(text))``); the
    axes-report face stages ONE tokenizer pass for both hash families.

    Returns (id1, id2, hamming) with id1 < id2 and hamming <= max_hamming.
    """
    from .joins import salted_self_pairs

    # tokens MATERIALIZED before shingling, short-doc filter on the CHEAP
    # size(t) predicate — the exact minhash_lsh_pairs_md5 staging: inlining
    # the tokenizer into the shingle transform (or filtering on size(sh)
    # over the aliased pipeline) re-runs it ~|positions| times per row
    # (measured 12.7 s -> ~2 s at sf0.1 for this operator)
    tok = (
        F.col(tokens_col)
        if tokens_col
        else tokens(normalized_text(F.col("text")))
    )
    base = docs.select(
        F.col("doc_id").alias("id"), tok.alias("t")
    ).where(F.size("t") >= SHINGLE_N)
    hashed = base.select(
        "id",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("t"), SHINGLE_N))
        ).alias("s"),
    ).select("id", F.md5("s").alias("h"))
    # nibble extraction: TWO conv calls over the 8-char digest halves, then
    # shift/mask arithmetic per nibble — bit-identical to the previous
    # conv-per-nibble spelling (conv('a',16,10)=10 == (conv('..a.',16,10)
    # >> shift) & 15) but 2 string parses per shingle row instead of 16
    # (r14: the 16 conv+substring calls sat in the kernel's one 35.6
    # task-s stage).  Halves live in their own projection so the multi-ref
    # aliases are not re-inlined per nibble.
    halves = hashed.select(
        "id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    nibs = halves.select(
        "id",
        *[
            F.shiftright(F.col("hi" if q < 8 else "lo"), (7 - q % 8) * 4)
            .bitwiseAND(F.lit(15))
            .cast("int")
            .alias(f"n{q}")
            for q in range(16)
        ],
    )
    votes = nibs.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"n{j // 4}"), 3 - j % 4)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    # pack votes MSB-first: bit j=0 is the BIGINT sign bit, so the packed
    # value's top 16 bits are exactly bits 0..15 (the blocking prefix)
    packed = None
    for j in range(64):
        w = -(1 << 63) if j == 0 else (1 << (63 - j))
        term = (
            F.when(F.col(f"v{j}") > 0, F.lit(w).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        packed = term if packed is None else packed.bitwiseOR(term)
    keyed = votes.select(
        F.col("id").alias("doc_id"),
        packed.alias("sh64"),
    ).withColumn(
        # & 65535 normalizes away the arithmetic-shift sign fill, so the
        # block value matches the oracle's bit-string key bijectively
        "block",
        F.shiftright("sh64", 48).bitwiseAND(F.lit(65535)),
    )
    return (
        salted_self_pairs(keyed, "block", "doc_id")
        .where(F.col("a_doc_id") < F.col("b_doc_id"))
        .select(
            F.col("a_doc_id").alias("id1"),
            F.col("b_doc_id").alias("id2"),
            F.bit_count(F.col("a_sh64").bitwiseXOR(F.col("b_sh64")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def minhash_sketch_error_md5(docs: DataFrame) -> DataFrame:
    """Sketch-accuracy probe: for every LSH candidate pair, the MinHash
    ESTIMATE of Jaccard (matching signature lanes / MD5_HASHES) next to
    the exact shingle-set Jaccard and their absolute error — the
    measurement that justifies trusting the sketch at a scale where the
    exact verify join is the cost you want to drop.  est is k/16 (exact
    in doubles) and the Jaccard is the same int ratio on both engines,
    so the whole frame is oracle-checkable with no rounding.

    Same staged signature family as :func:`minhash_lsh_pairs_md5`; the
    exact side reuses :func:`_verify_candidates` with threshold 0.0 (all
    candidates kept).  One extra join against the persisted signature
    table — no new shuffle family."""
    staged, sig, with_bands = _md5_staged_bands(docs)
    pairs = _verify_candidates(with_bands, staged, ["key"], 0.0)
    # the SAME persisted signature table the band keys derive from — the
    # lanes cannot fork (review r08: a rebuilt copy of the lane formula
    # lived here; an edit to the salt in one spelling would have forked
    # est from the band keys)
    sa = sig.select(
        F.col("id").alias("id1"),
        *[F.col(f"m{i}").alias(f"_a{i}") for i in range(MD5_HASHES)],
    )
    sb = sig.select(
        F.col("id").alias("id2"),
        *[F.col(f"m{i}").alias(f"_b{i}") for i in range(MD5_HASHES)],
    )
    lanes = None
    for i in range(MD5_HASHES):
        term = (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
        lanes = term if lanes is None else lanes + term
    est = lanes.cast("double") / float(MD5_HASHES)
    return (
        pairs.join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1", "id2",
            est.alias("est_jaccard"),
            "jaccard",
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )


def source_copy_matrix(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cross-source duplication matrix — which sources duplicate which:
    per unordered source pair, how many near-dup document pairs cross it
    (the curation dashboard that finds mirror sites and wholesale
    plagiarism between crawls).

    ``pairs`` is any pair face from this module ((id1, id2) near-dup
    candidates — minhash/simhash/semantic); this operator only joins the
    source attribute onto both ends and rolls up, so it inherits the pair
    face's scale guarantees (bucketed, never all-pairs).  The source pair
    is canonically ordered (least/greatest) so (a,b) and (b,a) land in one
    cell.  Output: source_a, source_b, n_pairs BIGINT, plus
    intra_source BOOLEAN (the diagonal — dup pressure inside one crawl).

    Scale shape: two joins keyed on the doc id against a (id, source)
    projection (broadcast when the dim fits, AQE decides) + ONE hash
    aggregate on the ~|sources|^2-bounded key space.
    """
    # NULL sources bin under an explicit "(null)" label: Spark's
    # least/greatest SKIP null arguments (the r05 zorder clamp lesson), so
    # a (NULL, 'web') pair would otherwise collapse to ('web', 'web') and
    # silently inflate the diagonal instead of surfacing the missing
    # attribute (review r11)
    src = docs.select(
        F.col("doc_id"),
        F.coalesce(F.col("source"), F.lit("(null)")).alias("_src"),
    )
    labeled = (
        pairs.select(F.col("id1"), F.col("id2"))
        .join(src.withColumnRenamed("doc_id", "id1").withColumnRenamed("_src", "_s1"), "id1")
        .join(src.withColumnRenamed("doc_id", "id2").withColumnRenamed("_src", "_s2"), "id2")
    )
    return (
        labeled.select(
            F.least("_s1", "_s2").alias("source_a"),
            F.greatest("_s1", "_s2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("intra_source", F.col("source_a") == F.col("source_b"))
    )


def dedup_axes_report(docs: DataFrame, axes: dict[str, DataFrame]) -> DataFrame:
    """How the dedup axes AGREE — per combination of per-axis keep
    decisions, the document count and the smallest example id: the
    curation dashboard that answers "what does semantic dedup remove that
    minhash kept?" before anyone commits to a removal policy.

    ``axes`` maps an axis name to its decision frame — any (id, keep
    BOOLEAN) face from this package (fingerprint_dedup, dedup_clusters,
    semantic_dedup via dedup_clusters, quality gates...).  Documents
    absent from an axis frame count as kept=true under that axis (an axis
    that emits no row made no removal claim).  Output: one ``keep_<name>``
    BOOLEAN column per axis (name-sorted) + ``n_docs`` BIGINT +
    ``example_id`` (min id in the cell).

    Scale shape: one id-keyed left join per axis (every axis frame is
    id-unique by contract, so joins never fan out) + ONE hash aggregate
    over a <= 2^|axes| key space — the joins share the id key, so at
    100 TB this is one exchange family over the doc-id hash, never a
    multi-pass.  Staged r09 as tested infra (tests/test_dedup_axes.py
    carries the intended DuckDB oracle); an r10 registry face needs a
    driver-window slot.
    """
    if not axes:
        raise ValueError("axes must name at least one decision frame")
    out = docs.select(F.col("doc_id").alias("_id"))
    names = sorted(axes)
    for name in names:
        d = axes[name]
        out = out.join(
            d.select(
                F.col("doc_id").alias("_id"),
                F.col("keep").alias(f"keep_{name}"),
            ),
            "_id",
            "left",
        ).withColumn(
            f"keep_{name}", F.coalesce(F.col(f"keep_{name}"), F.lit(True))
        )
    keys = [f"keep_{n}" for n in names]
    return (
        out.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("_id").alias("example_id"),
        )
    )
