#!/usr/bin/env python
"""Word-count strong and weak scaling: the reference's published figure.

The reference reports (BASELINE.md, resources/Documentation.md:425,482)
a word-count speedup of ≈15 at 16 physical CPUs and a weak-scaling
efficiency of 0.90-0.95 with the input replicated per rank. This script
measures the same two curves for `word_count_df` on local[n]:

- strong: fixed work, STRONG_COPIES × the sf documents text;
  speedup_n = T_1 / T_n.
- weak: work grows with the cores, WEAK_COPIES_PER_CORE × n copies;
  efficiency_n = T_1 / T_n.

n runs over 1, 2, 4, ... up to the cores this process may use, plus that
count itself when it is not a power of two. Each point runs in a fresh
JVM whose session comes from get_spark(cpus=n, shuffle_partitions=n):
one warm-up, then the best of 2 timed runs into the noop sink.

    python scaling_bench.py [sf_dir]     # default: the sf0.1 fixture

Prints ONE JSON line (with the host core count, so a record is only read
against records of the same host) and appends it to SCALING.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from mpi_word_count_spark.session import host_defaults
from mpi_word_count_spark.tables import DEFAULT_SF_DIR

HERE = os.path.dirname(os.path.abspath(__file__))
STRONG_COPIES = 512  # ≈ 768 MB of text at sf0.1
WEAK_COPIES_PER_CORE = 64  # ≈ 96 MB of text per core

_WORKER = r"""
import json, sys, time
from pyspark.sql import functions as F
from mpi_word_count_spark.operators.wordcount import word_count_df
from mpi_word_count_spark.session import get_spark

n, sf_dir, copies = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = get_spark(app_name=f"scaling-{n}", cpus=n, shuffle_partitions=n)
base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").cache()
base.count()

# Replicate AFTER an n-way repartition: the sf0.1 documents file is one
# row group (one scan split), so otherwise every copy would land in a
# single partition and n - 1 cores would idle.
def corpus():
    return (
        base.repartition(max(2 * n, 8))
        .withColumn("__r", F.explode(F.sequence(F.lit(1), F.lit(copies))))
        .drop("__r")
    )

word_count_df(base.limit(50)).write.format("noop").mode("overwrite").save()
# best of 2: the first run pays JIT/codegen warm-up, which would
# otherwise read as noisy anti-scaling at high core counts
best = float("inf")
for _ in range(2):
    t0 = time.monotonic()
    word_count_df(corpus()).write.format("noop").mode("overwrite").save()
    best = min(best, time.monotonic() - t0)
print(json.dumps({"n": n, "sec": round(best, 3)}))
spark.stop()
"""


def run_point(n: int, sf_dir: str, copies: int) -> float:
    """Seconds for one word count of `copies` × the corpus on local[n],
    in a fresh JVM."""
    out = subprocess.run(
        [sys.executable, "-c", _WORKER, str(n), sf_dir, str(copies)],
        capture_output=True,
        text=True,
        cwd=HERE,
        timeout=1800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)["sec"]
    raise RuntimeError(f"no result for n={n}: {out.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser(description="Word-count strong/weak scaling.")
    sf01 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    ap.add_argument("sf_dir", nargs="?", default=sf01)
    sf_dir = ap.parse_args().sf_dir
    host = host_defaults()[0]
    cores = [1 << i for i in range(host.bit_length())]
    cores += [host] if cores[-1] != host else []
    strong = {n: run_point(n, sf_dir, STRONG_COPIES) for n in cores}
    weak = {n: run_point(n, sf_dir, WEAK_COPIES_PER_CORE * n) for n in cores}
    result = {
        "metric": "wordcount_scaling",
        "host_cores": host,
        "sf_dir": sf_dir,
        "strong_sec": strong,
        "strong_speedup": {n: round(strong[1] / t, 2) for n, t in strong.items()},
        "weak_sec": weak,
        "weak_efficiency": {n: round(weak[1] / t, 2) for n, t in weak.items()},
    }
    print(json.dumps(result))
    with open(os.path.join(HERE, "SCALING.json"), "a") as fh:
        fh.write(json.dumps(result) + "\n")


if __name__ == "__main__":
    main()
