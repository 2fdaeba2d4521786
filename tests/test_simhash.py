"""SimHash face tests.

The md5 face (operators/dedup.py::simhash64_md5_pairs — the q_dedup_simhash
registry face) is checked against an INDEPENDENT pure-Python reference
(hashlib.md5, explicit bit loops): same tokenization, distinct trigram
shingles, MSB-first bit votes, 16-bit prefix blocking, hamming <= max.
This catches a both-engines-agree-on-the-wrong-formula drift the DuckDB
oracle cannot (the oracle replays the same SQL spelling).
"""

from __future__ import annotations

import hashlib
import re

import pytest

from pipeline_calculator_v3_spark.operators.dedup import simhash64_md5_pairs

# Fixture searched offline for block stability: 60 seeded pseudo-words;
# changing ONE word flips only ~3 shingles, and with seed 0 / position 50
# the perturbed doc keeps the same 16-bit prefix block as the base
# (hamming 5) — short natural-language texts have near-zero vote margins
# and a single-token edit routinely flips a prefix bit, which would make
# the planted-pair assertion vacuously block-dependent.
_RND = __import__("random").Random(0)
_WORDS = [f"w{_RND.randrange(10000)}" for _ in range(60)]
BASE = " ".join(_WORDS)
NEAR = " ".join(w if i != 50 else "changed" for i, w in enumerate(_WORDS))
OTHER = (
    "completely different subject matter entirely about spacecraft "
    "telemetry calibration procedures and orbital mechanics handbooks "
    "for deep space navigation teams"
)
DOCS = [(0, BASE), (1, NEAR), (2, OTHER), (3, "too short"), (4, BASE + " again")]


def _py_bits(text: str) -> list[int] | None:
    toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    if len(toks) < 3 or not sh:
        return None
    votes = [0] * 64
    for s in sh:
        h = hashlib.md5(s.encode()).hexdigest()
        for j in range(64):
            bit = (int(h[j // 4], 16) >> (3 - j % 4)) & 1
            votes[j] += 1 if bit else -1
    return [1 if v > 0 else 0 for v in votes]


def _py_pairs(docs, max_hamming=16):
    sims = {i: _py_bits(t) for i, t in docs}
    sims = {i: b for i, b in sims.items() if b is not None}
    out = {}
    for a in sorted(sims):
        for b in sorted(sims):
            if a < b and sims[a][:16] == sims[b][:16]:
                ham = sum(x != y for x, y in zip(sims[a], sims[b]))
                if ham <= max_hamming:
                    out[(a, b)] = ham
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_md5_face_matches_python_reference(spark, docs_df):
    expected = _py_pairs(DOCS)
    # non-vacuous: the planted near-dup and exact-prefix-dup must qualify
    assert (0, 1) in expected and (0, 4) in expected
    got = {
        (r.id1, r.id2): r.hamming
        for r in simhash64_md5_pairs(docs_df).collect()
    }
    assert got == expected


def test_md5_face_excludes_shingleless_docs(spark, docs_df):
    ids = {
        i
        for r in simhash64_md5_pairs(docs_df, max_hamming=64).collect()
        for i in (r.id1, r.id2)
    }
    assert 3 not in ids  # "too short" has no trigram shingles
