"""CLI entry point — the switch-over surface for a reference user.

The reference is driven as ``hadoop jar ALS.jar <in> <out> ...`` plus
two python preprocessing scripts (``ALS-Hadoop/ALS/ALS.java:217-331``,
``mapid.py``, ``split.py``); here the equivalent workflows are
subcommands of one module:

    python -m als_hadoop_spark als <ratings.csv>
        the reference's full pipeline: CSV → dense ids → 0.8/0.2
        split → ALS fit/predict → RMSE (printed like rmse.txt)
    python -m als_hadoop_spark query <name> [--sf-dir DIR] [-n N]
        run any registered engine query and show N rows
    python -m als_hadoop_spark list
        list every registered query (the SURVEY §2 surface)
    python -m als_hadoop_spark curate <sf_dir> <out_dir> [--packed DIR]
        the end-to-end training-data product (curate_and_pack)

All subcommands build the engine session (`session.get_spark`), so
cluster sizing follows $SPARK_GRAFT_CPUS / spark-submit conf.
"""

from __future__ import annotations

import argparse
import os
import sys

#: the checkout holding this package, where ``__spark_entry__.py`` lives
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="als_hadoop_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_als = sub.add_parser("als", help="reference ALS pipeline from a ratings CSV")
    p_als.add_argument("csv_path")

    p_q = sub.add_parser("query", help="run a registered query")
    p_q.add_argument("name")
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_q.add_argument("-n", type=int, default=20, help="rows to show")

    sub.add_parser("list", help="list registered queries")

    p_c = sub.add_parser("curate", help="run the curation/packing pipeline")
    p_c.add_argument("sf_dir")
    p_c.add_argument("out_dir")
    p_c.add_argument("--packed", default=None, help="z-ordered packed sink dir")

    args = p.parse_args(argv)

    if args.cmd == "list":
        # no Spark session needed to enumerate the registry
        sys.path.insert(0, _CHECKOUT)
        import __spark_entry__ as entry_mod

        oracles = entry_mod.oracle_sql()
        for name in sorted(entry_mod.queries()):
            tag = "oracle" if name in oracles else "rows-only"
            print(f"{name}\t{tag}")
        return 0

    from .session import get_spark

    # NOTE: the session is NOT stopped here — getOrCreate may return a
    # caller's live session (tests, notebooks); process exit handles
    # the CLI case.
    spark = get_spark("als_hadoop_spark_cli")
    if args.cmd == "als":
        from .operators.als import reference_pipeline

        _, rmse, mean_rmse, _ = reference_pipeline(spark, args.csv_path)
        # the reference's sole output is one RMSE double (rmse.txt,
        # ALS-Hadoop/ALS/ALS.java:411-419)
        print(f"{rmse}")
        print(f"# global-mean baseline rmse: {mean_rmse}", file=sys.stderr)
    elif args.cmd == "query":
        sys.path.insert(0, _CHECKOUT)
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        if args.name not in qs:
            print(f"unknown query {args.name!r} — try: list", file=sys.stderr)
            return 2
        qs[args.name](spark, args.sf_dir).show(args.n, truncate=False)
    elif args.cmd == "curate":
        from .operators.pipeline import curate_and_pack

        curate_and_pack(
            spark, args.sf_dir, args.out_dir, packed_dir=args.packed
        ).show(100, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
