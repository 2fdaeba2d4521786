"""CLI entry point — the reference's desktop workflow without the desktop.

The reference is a tkinter app (src/pipeline_calculator_v3.py:902-1710):
drop a KMZ/KML, set four parameters, run, read the tables, export
CSV/JSON/TXT/KML.  This module is that workflow as a command so a user of
the reference can switch engines without writing Spark code:

    python -m pipeline_calculator_v3_spark analyze INPUT.kmz \\
        --out-dir out/ [--detection-range 15] [--min-parallel 200] \\
        [--segment-length 5] [--angular-tolerance 15] [--top 10] \\
        [--single-file] [--distributed-json] [--cpus N]

Runs ops 1-22 (parse -> lengths -> segments -> distance join -> sessions
-> corridors -> rollups -> envelope), prints the reference's display
tables (ops 27-28: top-k bundled sections + totals), and writes every
export the reference offers (ops 23-26).  Parameter clamps are applied
inside the plan exactly as the GUI applies them (:1075-1078).

Scale defaults: exports use the distributed writers unless
``--single-file`` asks for the reference's one-file-per-table parity
format; ``--distributed-json`` swaps the single-envelope JSON for
JSON-lines part files (the 100 TB path — the envelope collect is a
driver OOM on corpus-scale section tables).
"""

from __future__ import annotations

import argparse
import math
import os
import sys


def _int_at_least(lo: int):
    """argparse ``type`` for an int >= ``lo``: a bad value exits 2 at parse
    time, before a Spark session is started."""

    def parse(text: str) -> int:
        value = int(text)
        if value < lo:
            raise argparse.ArgumentTypeError(f"must be >= {lo}, got {value}")
        return value

    parse.__name__ = "int"  # argparse names the type in its error message
    return parse


def _finite_float(text: str) -> float:
    """argparse ``type`` for a finite float: NaN and +-inf exit 2 at parse
    time, before a Spark session is started.  A NaN parameter would get
    through the plan's clamps (``max``/``min`` return the NaN), and a NaN
    angular tolerance switches the bearing predicate off, because Spark
    orders NaN above every number."""
    value = float(text)
    if not math.isfinite(value):
        raise argparse.ArgumentTypeError(f"must be finite, got {text}")
    return value


# argparse names the type in its error message
_finite_float.__name__ = "float"


def _build_parser() -> argparse.ArgumentParser:
    from . import (
        ANGULAR_TOLERANCE_DEG,
        DEFAULT_DETECTION_RANGE_M,
        MIN_PARALLEL_LENGTH_M,
        SEGMENT_LENGTH_M,
    )

    p = argparse.ArgumentParser(
        prog="python -m pipeline_calculator_v3_spark",
        description="Pipeline corridor-overlap analysis (Spark engine).",
    )
    sub = p.add_subparsers(dest="command", required=True)
    a = sub.add_parser("analyze", help="run the full overlap analysis")
    a.add_argument("input", nargs="+", help="KML/KMZ file(s)")
    a.add_argument("--out-dir", default="pipeline_analysis_out")
    a.add_argument(
        "--detection-range", type=_finite_float,
        default=DEFAULT_DETECTION_RANGE_M,
        help="parallel detection range, meters",
    )
    a.add_argument(
        "--min-parallel", type=_finite_float,
        default=MIN_PARALLEL_LENGTH_M,
        help="minimum bundled-section length, meters",
    )
    a.add_argument(
        "--segment-length", type=_finite_float,
        default=SEGMENT_LENGTH_M,
        help="resampling station spacing, meters",
    )
    a.add_argument(
        "--angular-tolerance", type=_finite_float,
        default=ANGULAR_TOLERANCE_DEG,
        help="bearing tolerance for parallelism, degrees",
    )
    a.add_argument("--top", type=_int_at_least(0), default=10,
                   help="bundled sections shown on stdout (op 27)")
    a.add_argument("--single-file", action="store_true",
                   help="reference-parity one-file-per-table CSV export")
    a.add_argument("--distributed-json", action="store_true",
                   help="JSON-lines part files instead of one envelope")
    a.add_argument("--no-kml", action="store_true",
                   help="skip per-section corridor KML export")
    a.add_argument("--cpus", type=_int_at_least(1), default=None,
                   help="local[N] cores (default: all)")

    q = sub.add_parser(
        "query",
        help="run one registry query against a testdata/warehouse dir",
    )
    q.add_argument("name", help="registry query name (or 'list')")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="directory of the parquet tables")
    q.add_argument("--limit", type=int, default=20,
                   help="rows shown (0 = count only)")
    q.add_argument("--out", default=None,
                   help="also write the FULL result as parquet here")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead")
    q.add_argument("--cpus", type=_int_at_least(1), default=None)
    return p


def _analyze(args: argparse.Namespace) -> int:
    from .caching import release_caches
    from .plans.overlap import analyze_pipelines
    from .session import get_spark
    from .sinks import (
        write_corridor_kml,
        write_csv,
        write_json,
        write_json_distributed,
        write_txt_summary,
    )
    from .sources.kml import read_pipelines

    for path in args.input:
        if not os.path.exists(path):
            print(f"error: no such input: {path}", file=sys.stderr)
            return 2

    spark = get_spark(
        "pcv3-cli",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # analyze_pipelines pins segments/pairs/hits/lengths/sections; a sink
    # that raises (unwritable out-dir, full disk) must not leave them
    # cached in a long-lived session — released in finally, as _query
    try:
        pipes = read_pipelines(spark, args.input)
        results = analyze_pipelines(
            pipes.select("pipeline_id", "name", "geometry"),
            detection_range_m=args.detection_range,
            min_parallel_m=args.min_parallel,
            segment_length_m=args.segment_length,
            angular_tolerance_deg=args.angular_tolerance,
        )

        # ops 27-28: the GUI's display tables on stdout.  Each small result
        # table is collected once, here or for the exports below, and the
        # stdout, JSON, TXT and KML writers all read those rows.  With
        # --distributed-json the sections table may be corpus-sized: it is
        # never collected whole (stdout takes its first rows, the KML
        # export streams it).
        rows = {"totals": results["totals"].collect()}
        # zero valid pipelines leaves the SUM aggregates NULL (the PERMISSIVE
        # reader returns an empty frame instead of raising) — report zeros,
        # the write_txt_summary rule
        t = rows["totals"][0]
        print(f"pipelines: {t.n_pipelines}  total: {t.total_m or 0.0:,.1f} m "
              f"({t.total_mi or 0.0:.4f} US survey mi)")
        sections = results["sections"]
        if args.distributed_json:
            shown = sections.drop("oriented_polygon", "corridor_polygon").limit(
                args.top
            ).collect()
        else:
            rows["sections"] = sections.collect()
            shown = rows["sections"][: args.top]
        for r in shown:
            print(f"  section p{r.p1}<->p{r.p2}#{r.section}: "
                  f"{r.bundled_length_mi:.4f} mi over {r.n_hits} stations, "
                  f"avg sep {r.average_separation:.2f} m")
        rows["summary"] = results["summary"].collect()
        s = rows["summary"][0]
        print(f"effective: {s.effective_m or 0.0:,.1f} m "
              f"of {s.total_m or 0.0:,.1f} m "
              f"(savings {s.savings_pct or 0.0:.1f}%)")

        # ops 23-26: exports
        out = args.out_dir
        os.makedirs(out, exist_ok=True)
        write_csv(results, out, single_file=args.single_file)
        if args.distributed_json:
            write_json_distributed({**results, "summary": rows["summary"]},
                                   os.path.join(out, "json"))
        else:
            for name in ("lengths", "per_pipeline_overlap"):
                rows[name] = results[name].collect()
            write_json(rows, os.path.join(out, "analysis.json"))
        write_txt_summary(rows, os.path.join(out, "summary.txt"))
        if not args.no_kml:
            kml_dir = os.path.join(out, "corridors")
            os.makedirs(kml_dir, exist_ok=True)
            # toLocalIterator streams one partition at a time into this
            # process
            section_rows = (rows["sections"] if "sections" in rows
                            else sections.toLocalIterator())
            for r in section_rows:
                write_corridor_kml(
                    r,
                    os.path.join(
                        kml_dir, f"corridor_p{r.p1}_p{r.p2}_s{r.section}.kml"
                    ),
                )
    finally:
        release_caches(spark)
    print(f"exports written to {out}/")
    return 0


def _query(args: argparse.Namespace) -> int:
    from .caching import persist_tracked, release_caches
    from .queries import QUERIES
    from .session import get_spark

    if args.name == "list":
        for name in QUERIES:
            print(name)
        return 0
    if args.name not in QUERIES:
        print(f"error: unknown query {args.name!r} "
              f"(try: python -m pipeline_calculator_v3_spark query list)",
              file=sys.stderr)
        return 2
    spark = get_spark(
        "pcv3-cli",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")  # the public spelling of the same call
        return 0
    # the write/show/count fan-out would otherwise execute the query up
    # to three times (advice r10) — persist once, release at the end
    if args.out or args.limit > 0:
        df = persist_tracked(df)
    try:
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"written: {args.out}")
        if args.limit > 0:
            df.show(args.limit, truncate=False)
        print(f"rows: {df.count()}")
    finally:
        # frees the fan-out persist and whatever the registry query pinned
        # internally; nothing this package pins may outlive the query
        # (caching.py contract — the _analyze path already released, review
        # r12)
        release_caches(spark)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.command == "analyze":
        return _analyze(args)
    if args.command == "query":
        return _query(args)
    return 2


if __name__ == "__main__":
    sys.exit(main())
