"""CLI for the engine's three jobs + bench.

    python -m deltoid_spark encode --input <parquet> --out <dir> [--target-rows N]
    python -m deltoid_spark decode --out <dir> --dest <parquet>
    python -m deltoid_spark verify --input <parquet> --out <dir>
    python -m deltoid_spark metrics --out <dir>

On a cluster the same entry points run via
``spark-submit --py-files deltoid_spark_pkg.zip`` with this module as
the driver script (the package zips itself: deltoid_spark.session.package_zip).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="deltoid_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="J1: table -> blocks + manifest")
    enc.add_argument("--input", required=True)
    enc.add_argument("--out", required=True)
    enc.add_argument("--target-rows", type=int, default=20_000)
    enc.add_argument("--keyframe-interval", type=int, default=32)
    enc.add_argument("--no-resume", action="store_true")
    enc.add_argument("--origin", default=None)
    enc.add_argument("--message", default=None)

    app_ = sub.add_parser("append", help="A18: extend existing chains with a new batch")
    app_.add_argument("--input", required=True)
    app_.add_argument("--out", required=True)
    app_.add_argument("--origin", default=None)
    app_.add_argument("--message", default=None)

    cmp_ = sub.add_parser("compact", help="A17: merge append fragments, re-select codecs")
    cmp_.add_argument("--out", required=True)
    cmp_.add_argument("--origin", default=None)
    cmp_.add_argument("--message", default=None)

    vac = sub.add_parser("vacuum", help="reclaim blocks no active manifest entry references")
    vac.add_argument("--out", required=True)

    dec = sub.add_parser("decode", help="J2: blocks -> table")
    dec.add_argument("--out", required=True)
    dec.add_argument("--dest", required=True)
    dec.add_argument("--as-of-gen", type=int, default=None,
                     help="time travel: read as of this manifest generation")
    dec.add_argument("--on-error", default="raise", choices=("raise", "skip"),
                     help="skip = read-side failure isolation: corrupt "
                          "partitions contribute zero rows instead of "
                          "failing the read (pair with verify)")
    dec.add_argument("--where", default=None, metavar="COL:LO:HI",
                     action="append",
                     help="zone-map-pruned range predicate; empty LO or HI = "
                          "open-ended.  Bounds may be ints or any string "
                          "pandas parses as a timestamp/date.  Use '|' as the "
                          "separator instead (COL|LO|HI) when a bound itself "
                          "contains ':' (e.g. a full timestamp).  "
                          "COL:in:V1,V2,... is the IN-list form (batched "
                          "point probes through zones + Bloom filters; "
                          "values may not contain commas).  Repeatable; "
                          "multiple predicates AND together.")

    his = sub.add_parser("history", help="commit log: one row per generation")
    his.add_argument("--out", required=True)

    ver = sub.add_parser("verify", help="J3: sha256 parity audit")
    ver.add_argument("--input", required=True)
    ver.add_argument("--out", required=True)

    met = sub.add_parser("metrics", help="print manifest summary")
    met.add_argument("--out", required=True)

    args = ap.parse_args(argv)

    from .jobs import (
        compact,
        decode,
        encode,
        encode_append,
        history,
        metrics_summary,
        vacuum,
        verify,
    )
    from .session import get_spark

    spark = get_spark(app=f"deltoid-{args.cmd}")
    try:
        if args.cmd == "encode":
            manifest = encode(
                spark, args.input, args.out,
                target_rows=args.target_rows,
                keyframe_interval=args.keyframe_interval,
                resume=not args.no_resume,
                origin=args.origin, message=args.message,
            )
            print(json.dumps(metrics_summary(manifest)))
        elif args.cmd == "append":
            manifest = encode_append(
                spark, args.input, args.out,
                origin=args.origin, message=args.message,
            )
            print(json.dumps(metrics_summary(manifest)))
        elif args.cmd == "compact":
            manifest = compact(spark, args.out, origin=args.origin, message=args.message)
            print(json.dumps(metrics_summary(manifest)))
        elif args.cmd == "vacuum":
            print(json.dumps(vacuum(spark, args.out)))
        elif args.cmd == "decode":
            where = None
            if args.where:
                # '|' wins when present so full timestamps ("…T10:00:00")
                # survive; bounds pass through as RAW text — the column
                # type's where_value (jobs/coltypes) coerces per the target
                # column's DDL (int(), float(), pd.Timestamp() and the
                # boolean "true"/"false" all parse strings), so an
                # early int() here would mangle numeric-LOOKING string
                # bounds ('05' -> 5 -> '5') and change the range applied.
                def _bound(s: str):
                    return s if s else None

                where = []
                for spec in args.where:
                    sep = "|" if "|" in spec else ":"
                    parts = spec.split(sep, 2)
                    if len(parts) == 3 and parts[1] == "in":
                        # COL:in:V1,V2,... — IN-list point probes; values
                        # stay RAW text like range bounds (decode coerces
                        # per the target column's DDL)
                        vals = [v for v in parts[2].split(",") if v]
                        if not vals:
                            ap.error(f"--where IN-list needs values, got {spec!r}")
                        where.append((parts[0], vals))
                        continue
                    try:
                        col, lo, hi = parts
                    except ValueError:
                        ap.error(f"--where wants COL{sep}LO{sep}HI, got {spec!r}")
                    where.append((col, _bound(lo), _bound(hi)))
            decode(spark, args.out, as_of_gen=args.as_of_gen, where=where,
                   on_error=args.on_error).write.mode(
                "overwrite"
            ).parquet(args.dest)
            print(json.dumps({"written": args.dest}))
        elif args.cmd == "history":
            rows = [r.asDict() for r in history(spark, args.out).collect()]
            print(json.dumps(rows, default=str))
        elif args.cmd == "verify":
            report = verify(spark, spark.read.parquet(args.input), decode(spark, args.out))
            print(json.dumps(report))
            return 0 if report["ok"] else 1
        elif args.cmd == "metrics":
            # resolve the active manifest head — a raw read would double
            # count generations superseded by resume/append/compact
            from .jobs.pipeline import _manifest_active

            print(json.dumps(metrics_summary(_manifest_active(spark, f"{args.out}/manifest"))))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
