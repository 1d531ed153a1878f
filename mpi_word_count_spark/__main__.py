"""CLI entry point — the reference driver's user surface, Spark-side.

The reference runs as `mpirun ... word_count_mpi --path PATH`
(word_count_mpi.c:25-56: one required --path, delimiters from
`delimiters.txt` if present, results to `csv_results.csv`, timing to
`timing.log`). Same contract here:

    python -m mpi_word_count_spark --path CORPUS_DIR \
        [--delimiters FILE] [--output csv_results.csv] \
        [--timing timing.log] [--compat] [--console N] [--cpus N]

`--compat` switches to strict reference parity (29-char key
truncation + ASCII-only lowercasing, word_count_mpi.c / hash_map.c
semantics S2); default mode is the documented Unicode divergence.

Debug sink (SURVEY.md §2 O7 — the reference dumps its hash-map state,
hash_map.c:136-145; the Spark-side analog is the physical plan):

    python -m mpi_word_count_spark --list-queries
    python -m mpi_word_count_spark --explain QUERY [--sf-dir DIR]

prints the formatted physical plan (scan pushdowns, exchanges,
codegen spans) of any registered query — the exact artifact the
plan-audit tests assert on.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m mpi_word_count_spark",
        description="Distributed word count over a directory of text files.",
    )
    ap.add_argument("--path", default=None, help="corpus directory")
    ap.add_argument(
        "--explain",
        metavar="QUERY",
        default=None,
        help="print the formatted physical plan of a registered query "
        "and exit (debug sink; uses --sf-dir fixtures)",
    )
    ap.add_argument(
        "--list-queries",
        action="store_true",
        help="list registered query names and exit",
    )
    ap.add_argument(
        "--run",
        metavar="QUERY",
        default=None,
        help="execute a registered query against --sf-dir and print "
        "the first --limit rows in the console-sink format",
    )
    ap.add_argument(
        "--limit",
        type=int,
        default=20,
        metavar="N",
        help="row cap for --run output (default 20)",
    )
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="fixture directory for --explain / --run",
    )
    ap.add_argument(
        "--delimiters",
        default=None,
        help="delimiter alphabet file (reference format: one literal "
        "byte list; whitespace is always included)",
    )
    ap.add_argument("--output", default="csv_results.csv", help="CSV sink path")
    ap.add_argument("--timing", default="timing.log", help="timing sink path")
    ap.add_argument(
        "--compat",
        action="store_true",
        help="strict reference parity: 29-char keys, ASCII-only lowercase",
    )
    ap.add_argument(
        "--console",
        type=int,
        default=0,
        metavar="N",
        help="also print the first N rows in the reference's console "
        "format (0 = off)",
    )
    ap.add_argument("--cpus", type=int, default=None, help="local[] parallelism")
    args = ap.parse_args(argv)

    if args.list_queries:
        from mpi_word_count_spark import registry

        for name in sorted(registry.queries()):
            print(name)
        return 0
    if args.explain:
        from mpi_word_count_spark import registry
        from mpi_word_count_spark.session import get_spark

        queries = registry.queries()
        if args.explain not in queries:
            ap.error(
                f"unknown query {args.explain!r} (see --list-queries)"
            )
        spark = get_spark(app_name="explain")
        queries[args.explain](spark, args.sf_dir).explain("formatted")
        return 0
    if args.run:
        from mpi_word_count_spark import registry
        from mpi_word_count_spark.session import get_spark

        queries = registry.queries()
        if args.run not in queries:
            ap.error(f"unknown query {args.run!r} (see --list-queries)")
        if args.limit < 1:
            ap.error("--limit must be >= 1")
        spark = get_spark(app_name=f"run:{args.run}")
        df = queries[args.run](spark, args.sf_dir)
        # key/value console format for 2-col results (the reference's
        # sink, word_count_mpi.c:122-129); tabular show() otherwise
        if len(df.columns) == 2:
            from mpi_word_count_spark.sinks import show_console

            show_console(df, limit=args.limit)
        else:
            df.show(n=args.limit, truncate=False)
        return 0
    if not args.path:
        ap.error("--path is required (or use --explain / --list-queries)")

    from mpi_word_count_spark.session import get_spark
    from mpi_word_count_spark.sinks import show_console, timing_log, write_word_count_csv
    from mpi_word_count_spark.tokenizer import DEFAULT_DELIMITERS, load_delimiters

    delimiters = (
        load_delimiters(args.delimiters) if args.delimiters else DEFAULT_DELIMITERS
    )
    if args.cpus is not None and args.cpus < 1:
        ap.error("--cpus must be >= 1")
    spark = get_spark(cpus=args.cpus, shuffle_partitions=args.cpus)
    with timing_log(args.timing, label="word_count"):
        if args.compat:
            from mpi_word_count_spark.operators.wordcount import (
                read_corpus,
                word_count_compat,
            )

            lines = read_corpus(spark, args.path)  # same empty-corpus error
            result = word_count_compat(lines, col="value", delimiters=delimiters)
        else:
            from mpi_word_count_spark.operators.wordcount import word_count_dir

            result = word_count_dir(spark, args.path, delimiters=delimiters)
        out = write_word_count_csv(result, args.output)
    if args.console:
        show_console(result, limit=args.console)  # prints the lines itself
    print(f"wrote {out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
