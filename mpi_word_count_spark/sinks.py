"""Sinks (reference O4-O7, SURVEY.md §2.1).

The reference writes one CSV `csv_results.csv` with header
`Word,Count` and unquoted `%s,%ld` rows (write_csv,
word_count_mpi.c:132-142), which the CSV sink reproduces through
Spark's text writer rather than its quoting CSV writer. It prints
cells as `Key: %s -- Value: %ld` (cell.c:37-39) and appends
wall-clock seconds to timing.log (word_count_mpi.c:434-437).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_word_count_csv(df: DataFrame, path: str = "csv_results.csv") -> str:
    """Byte-parity CSV sink (O4): header `Word,Count`, then `word,count`
    lines written raw, as the reference's `%s,%ld` (word_count_mpi.c:
    132-142): no quoting, so a word holding `,` or `"` under a custom
    alphabet is written as it is. The lines go through the text writer,
    one part file per partition, written in parallel and joined in name
    order, so row order is `df`'s partition order — an `orderBy`
    result's, as reference ranks write their sorted slices in turn.
    A failure leaves `path` as it was and no scratch file behind."""
    tmp = path + ".spark-tmp"
    whole = os.path.join(tmp, "whole.csv")
    try:
        line = F.concat_ws(",", F.col("word"), F.col("count").cast("string"))
        df.select(line).write.mode("overwrite").text(tmp)
        with open(whole, "wb") as out:
            out.write(b"Word,Count\n")
            for part in sorted(glob.glob(os.path.join(tmp, "part-*.txt"))):
                with open(part, "rb") as fh:
                    shutil.copyfileobj(fh, out)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(whole, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
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
