"""Sinks (reference O4-O7, SURVEY.md §2.1).

The reference writes one CSV `csv_results.csv` with header
`Word,Count` (write_csv, word_count_mpi.c:132-142), prints cells as
`Key: %s -- Value: %ld` (cell.c:37-39), and appends wall-clock
seconds to timing.log (word_count_mpi.c:434-437).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame


def write_word_count_csv(df: DataFrame, path: str = "csv_results.csv") -> str:
    """Byte-parity CSV sink for the flagship query (O4): one file with
    header `Word,Count` (word_count_mpi.c:137). Coalescing to a single
    task reproduces the reference's one file — right for parity runs,
    wrong at 100 TB."""
    renamed = df.withColumnRenamed("word", "Word").withColumnRenamed("count", "Count")
    tmp = path + ".spark-tmp"
    renamed.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


def show_console(df: DataFrame, limit: int = 0) -> list[str]:
    """Console sink parity with the sequential oracle: one line per
    record, `Key: <word> -- Value: <count>` (cell.c:37-39)."""
    rows = df.collect() if limit <= 0 else df.take(limit)
    lines = [f"Key: {r[0]} -- Value: {r[1]}" for r in rows]
    print("\n".join(lines))
    return lines


@contextmanager
def timing_log(path: str = "timing.log", label: str = "query"):
    """Metrics sink (O6): append elapsed wall seconds, like the
    reference's MPI_Wtime → timing.log."""
    start = time.monotonic()
    yield
    elapsed = time.monotonic() - start
    with open(path, "a") as fh:
        fh.write(f"{label}: {elapsed:.6f} s\n")
