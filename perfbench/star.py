"""Workload ``star``: a fixed mix of relational registry queries over seeded
star-schema parquet tables.

Each query is built by its registry function and materialized through the
noop sink.  JVM scans, joins, aggregates and windows only: no Python kernel,
no persist, no write.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from pathlib import Path

import eventlog
import gen
from record import Op, Pass, Spans, block, cached_bytes, finish, group_stages

# Every pass opens with the same first screen of four TPC-H reports, so
# "first result" means the same work on every seed; the rest of the mix
# follows in a seeded order.
FIRST_SCREEN = [
    "q_tpch_q1_pricing_summary",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_volume",
    "q_tpch_q9_product_profit",
]
MIX = FIRST_SCREEN + [
    "q_tpch_q17_small_qty",
    "q_tpch_q18_large_orders",
    "q_tpch_q21_waiting_supplier",
    "q_join_multi_way",
    "q_join_big_sort_merge",
    "q_agg_hash",
    "q_window_rank",
    "q_sessionize",
]


def generate(seed: int, out_dir: Path) -> Path:
    return gen.make_star(seed, out_dir)


class Workload:
    def __init__(self, spark, data_dir: Path, work: Path, seed: int, clock):
        self.spark = spark
        self.clock = clock
        self.data_dir = str(data_dir)
        self.rng = random.Random(seed)
        # the mix split into four fixed quarters; the seed picks the quarter
        # checked, so any four consecutive seeds check every query
        self.checked = sorted(MIX)[seed % 4::4]

    def _order(self) -> list[str]:
        rest = MIX[len(FIRST_SCREEN):]
        self.rng.shuffle(rest)
        return FIRST_SCREEN + rest

    def run_pass(self) -> Pass:
        from pipeline_calculator_v3_spark.caching import release_caches
        from pipeline_calculator_v3_spark.queries import QUERIES

        ops = []
        t_pass = self.clock.now()
        for name in self._order():
            t0 = self.clock.now()
            try:
                QUERIES[name](self.spark, self.data_dir).write.format(
                    "noop").mode("overwrite").save()
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            finally:
                release_caches(self.spark)
            t1 = self.clock.now()
            ops.append(Op(name, t1 - t0, ok))
            if len(ops) == len(FIRST_SCREEN):
                first = t1 - t_pass
        return Pass(self.clock.now() - t_pass, first, ops)

    # ---------------------------------------------------------------- checks

    def check(self, passes: list[Pass]) -> int:
        """A quarter of the mix, picked by the seed, against its registry
        ``ORACLE_SQL`` run in DuckDB on the same files; a query that fails
        fails all its runs.  Returns the number of operations checked.
        Checking the whole mix would add most of a pass to every run."""
        import duckdb

        from pipeline_calculator_v3_spark.caching import release_caches
        from pipeline_calculator_v3_spark.queries import ORACLE_SQL, QUERIES
        from tests.compare import assert_frames_match

        con = duckdb.connect()
        bad = set()
        try:
            for t in gen.STAR_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.data_dir}/{t}.parquet')")
            for name in self.checked:
                try:
                    got = QUERIES[name](self.spark, self.data_dir).toPandas()
                    release_caches(self.spark)
                    assert_frames_match(got, con.execute(ORACLE_SQL[name]).df())
                except Exception as e:  # noqa: BLE001 - a failed check
                    bad.add(name)
                    print(f"star check failed ({name}): {e!r}"[:2000],
                          file=sys.stderr)
        finally:
            con.close()
        ops = [op for p in passes for op in p.ops if op.name in self.checked]
        for op in ops:
            if op.name in bad:
                op.ok = False
        return len(ops)

    # ---------------------------------------------------------------- traced

    def traced(self, log_dir: Path, seconds: float) -> dict:
        """Warm passes in an event-logged context: one span for each
        query's build, one for its execution, one for the cache release."""
        spans = Spans(self.spark, self.clock)
        walls, cached = [], []
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            wall, mem_disk = self._traced_pass(spans, len(walls))
            walls.append(wall)
            cached.append(mem_disk)
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.stop()  # flushes the event log
        (path,) = [p for p in log_dir.iterdir() if p.is_file()]
        log = eventlog.read(path)
        per_pass = []
        for i, wall in enumerate(walls):
            build, run = spans.of(i, "queries.build"), spans.of(i, "queries.exec")
            m = {
                "trace.wall_s": wall,
                "queries.build_s": spans.wall(i, "queries.build"),
                "queries.build_jobs": sum(eventlog.jobs_of(log, s.group)
                                          for s in build),
                "queries.exec_s": spans.wall(i, "queries.exec"),
                "caching.release_s": spans.wall(i, "caching"),
                "caching.cached_mb": cached[i][0] / float(1 << 20),
                "caching.disk_mb": cached[i][1] / float(1 << 20),
            }
            stages = group_stages(log, run)
            m.update(block(log, "queries", stages,
                           sum(eventlog.jobs_of(log, s.group) for s in run)))
            m["queries.slot_util"] = m["queries.task_s"] / (
                m["queries.exec_s"] * cores)
            per_pass.append(m)
        return finish(per_pass)

    def _traced_pass(self, spans: Spans, i: int) -> tuple[float, tuple]:
        from pipeline_calculator_v3_spark.caching import release_caches
        from pipeline_calculator_v3_spark.queries import QUERIES

        mem = disk = 0
        t0 = self.clock.now()
        for name in self._order():
            with spans.span(i, "queries.build", name):
                df = QUERIES[name](self.spark, self.data_dir)
            with spans.span(i, "queries.exec", name):
                df.write.format("noop").mode("overwrite").save()
            t1 = self.clock.now()
            m, d = cached_bytes(self.spark)
            mem, disk = mem + m, disk + d
            t0 += self.clock.now() - t1  # the storage probe is not timed
            with spans.span(i, "caching", name):
                release_caches(self.spark)
        return self.clock.now() - t0, (mem, disk)
