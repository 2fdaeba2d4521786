"""operators/compaction.py — small-file compaction planning (staged r10
for an r11 registry face): planted manifest + the intended DuckDB oracle
replay + structural invariants (no file split, big files solo, bounded
overshoot) + a randomized property vs a single-process reference."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pipeline_calculator_v3_spark.operators.compaction import compaction_plan

TARGET = 100
# ids deliberately unsorted on input; bytes mix tiny, mid, at-target, huge
FILES = [
    (7, 40), (1, 30), (3, 120), (2, 25), (9, 100), (4, 60),
    (5, 10), (8, 55), (6, 99),
]


@pytest.fixture(scope="module")
def plan(spark):
    df = spark.createDataFrame(FILES, "file_id long, bytes long")
    rows = compaction_plan(df, target_bytes=TARGET).collect()
    return {r.file_id: (r.compact, r.group_id, r.bytes) for r in rows}


def test_every_file_planned_once(plan):
    assert set(plan) == {f for f, _ in FILES}


def test_big_files_pass_through(plan):
    for fid, b in FILES:
        compact, gid, _ = plan[fid]
        if b >= TARGET:
            assert not compact and gid < 0, (fid, plan[fid])
        else:
            assert compact and gid >= 0, (fid, plan[fid])


def test_greedy_groups_by_id_order(plan):
    # small files by id: 1(30) 2(25) 4(60) 5(10) 6(99) 7(40) 8(55)
    # exclusive cumsum: 0 30 55 115 125 224 264 -> // 100 = 0 0 0 1 1 2 2
    expect = {1: 0, 2: 0, 4: 0, 5: 1, 6: 1, 7: 2, 8: 2}
    for fid, gid in expect.items():
        assert plan[fid][1] == gid, (fid, plan[fid])


def test_duckdb_replay_agrees(plan):
    """The exact SQL intended as the r11 registry oracle (BIGINT-exact //
    over the exclusive cumsum; solos rank negatively by id)."""
    con = duckdb.connect()
    con.register("files", pd.DataFrame(FILES, columns=["file_id", "bytes"]))
    sql = f"""
WITH small AS (
    SELECT file_id, bytes,
           (SUM(bytes) OVER (ORDER BY file_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - bytes) // {TARGET} AS group_id
    FROM files WHERE bytes < {TARGET}
),
big AS (
    SELECT file_id, bytes,
           -row_number() OVER (ORDER BY file_id) AS group_id
    FROM files WHERE bytes >= {TARGET}
)
SELECT file_id, bytes, TRUE AS compact, CAST(group_id AS BIGINT) AS group_id
FROM small
UNION ALL
SELECT file_id, bytes, FALSE, CAST(group_id AS BIGINT) FROM big
"""
    oracle = {
        int(r[0]): (bool(r[2]), int(r[3]), int(r[1]))
        for r in con.execute(sql).fetchall()
    }
    assert oracle == plan


def test_guards(spark):
    df = spark.createDataFrame(FILES, "file_id long, bytes long")
    with pytest.raises(ValueError):
        compaction_plan(df, target_bytes=0)
    with pytest.raises(ValueError):
        compaction_plan(df, target_bytes=100, small_bytes=200)
    with pytest.raises(ValueError):
        compaction_plan(
            df.withColumn("compact", df.bytes > 0), target_bytes=100
        )


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.integers(1, 250), min_size=1, max_size=20),
    st.integers(50, 150),
)
def test_matches_reference(spark, sizes, target):
    """For ANY manifest: same plan as the naive single-process greedy."""
    files = list(enumerate(sizes))
    df = spark.createDataFrame(files, "file_id long, bytes long")
    got = {
        r.file_id: (r.compact, r.group_id)
        for r in compaction_plan(df, target_bytes=target).collect()
    }
    cum, solo_rank, expect = 0, 0, {}
    for fid, b in files:  # already id-ordered
        if b >= target:
            solo_rank += 1
            expect[fid] = (False, -solo_rank)
        else:
            expect[fid] = (True, cum // target)
            cum += b
    assert got == expect, (files, target)
