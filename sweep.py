#!/usr/bin/env python
"""Full-registry oracle sweep at an arbitrary scale factor.

Runs EVERY registered query against its DuckDB oracle (the same
comparison the driver's per-round correctness gate performs) and
prints one status line per query plus a final tally. Usage:

    python sweep.py [sf_dir]            # default /root/testdata/sf0.01
    python sweep.py [sf_dir] --only a,b # scoped re-check of named queries

The per-round driver gate only checks a 50-query budget at sf0.01;
this sweep is the local superset check (all queries, any scale) used
to keep COVERAGE.md's "entire registry green at sf0.1" claim honest.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from mpi_word_count_spark import operators  # noqa: E402
from mpi_word_count_spark.oracle import compare  # noqa: E402
from mpi_word_count_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description="Full-registry oracle sweep.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", help="comma-separated query names to check")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    only = set(args.only.split(",")) if args.only else None
    spark = get_spark(app_name="sweep")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only is not None:
        unknown = only - queries.keys()
        if unknown:
            raise SystemExit(f"--only names not registered: {sorted(unknown)}")
        queries = {n: q for n, q in queries.items() if n in only}
    t0 = time.monotonic()
    n_ok = n_bad = n_weak = 0
    failures: list[str] = []
    for name in sorted(queries):
        t = time.monotonic()
        try:
            if name not in oracles:
                df = queries[name](spark, sf_dir)
                assert df.columns and df.count() > 0
                n_weak += 1
                status = "weak-ok"
            else:
                ok, msg = compare(spark, queries[name], oracles[name], sf_dir)
                if ok:
                    n_ok += 1
                    status = msg
                else:
                    n_bad += 1
                    failures.append(f"{name}: {msg}")
                    status = f"FAIL {msg}"
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            n_bad += 1
            failures.append(f"{name}: {exc}")
            status = f"ERR {type(exc).__name__}: {str(exc)[:200]}"
        finally:
            operators.release_caches()
        print(f"{name:40s} {time.monotonic() - t:6.1f}s  {status}", flush=True)
    total = time.monotonic() - t0
    print(
        f"\nSWEEP {sf_dir}: {n_ok} oracle-green + {n_weak} weak-ok, "
        f"{n_bad} failing, {total:.0f}s"
    )
    for f in failures:
        print(f"  FAIL {f}")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
