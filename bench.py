#!/usr/bin/env python
"""Benchmark harness: the headline queries (``registry.HEADLINE``, the
same list that leads the registry's order) at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the cores this
process may run on, see session.py).

Prints ONE compact JSON line as the FINAL stdout line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "n_queries": N, "sf": <sf>, "queries": {"see": "BENCH_queries.json"}}
The per-query timing map goes to a SIDECAR file BENCH_queries.json
(round-7 lesson: at 69 headline queries the embedded map alone is
>2 KB and pushed the stdout line past the driver's 2000-byte
tail-capture window — "parsed": null for the SECOND time after
round 4's meta-embedding did the same). The stdout line must stay
<300 bytes at ANY headline-list size; anything that grows with the
list belongs in a sidecar. Per-run hygiene metadata (3-run times,
load1 before/after) is likewise written to BENCH_meta.json.

Each query executes fully via the noop sink (no driver collect — we
measure the distributed plan, not result transfer, mirroring how the
reference times compute + reduce but not stdout, word_count_mpi.c:406).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mpi_word_count_spark import registry  # noqa: E402
from mpi_word_count_spark.session import get_spark  # noqa: E402


def stdout_line(total: float, n_queries: int, sf: float) -> str:
    """The driver-parsed final stdout line. MUST stay far inside the
    driver's 2000-byte tail-capture window at any headline-list size,
    so nothing list-sized may appear here (rounds 4 and 7 both lost
    their official record to this)."""
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "n_queries": n_queries,
            "sf": sf,
            "queries": {"see": "BENCH_queries.json"},
        }
    )
    if len(line) >= 300:
        # explicit raise, not assert: the guard is mandatory and must
        # survive `python -O` (ADVICE r8) — losing it silently is how
        # rounds 4 and 7 lost their official records
        raise RuntimeError(f"bench stdout line too long ({len(line)}B)")
    return line


def wait_for_quiet_host(threshold: float = 2.0, max_wait_s: float = 1200.0) -> dict:
    """Block until load1 < threshold so the official bench runs on a
    quiet host (VERDICT r5 item: the r5 artifact ran at load1 7-13 and
    per-run spread hit 6x). Gives up after max_wait_s and records that
    the gate timed out rather than never producing a bench record."""
    start = time.monotonic()
    load1 = os.getloadavg()[0]
    while load1 >= threshold and time.monotonic() - start < max_wait_s:
        print(
            f"# quiet-host gate: load1={load1:.1f} >= {threshold}, waiting...",
            file=sys.stderr,
        )
        time.sleep(15)
        load1 = os.getloadavg()[0]
    return {
        "quiet_gate_threshold": threshold,
        "quiet_gate_wait_s": round(time.monotonic() - start, 1),
        "quiet_gate_timeout": load1 >= threshold,
        "load1_after_gate": round(load1, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0.1)
    gate = wait_for_quiet_host()
    load1_at_start = os.getloadavg()[0]
    spark = get_spark(app_name="bench")

    # absorb one-time JVM/codegen/catalog init so per-query numbers
    # measure the plan, not session bring-up (the reference likewise
    # starts its clock after MPI_Init, word_count_mpi.c:406): compile
    # the flagship pipeline once on a one-row input
    from mpi_word_count_spark.operators.wordcount import word_count_df

    tiny = spark.createDataFrame([("warm up the codegen cache",)], "text string")
    word_count_df(tiny).write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    from mpi_word_count_spark import operators

    queries = registry.queries()
    timings: dict[str, float] = {}
    runs_meta: dict[str, dict] = {
        name: {"runs": [], "loads": []} for name in registry.HEADLINE
    }

    def timed_run(name: str) -> float:
        start = time.monotonic()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = round(time.monotonic() - start, 3)
        # drop any caches the operator tracked (e.g. MinHash
        # signatures) so executor memory pressure from one query
        # can't tax the next — regressions must be attributable
        operators.release_caches()
        runs_meta[name]["runs"].append(elapsed)
        runs_meta[name]["loads"].append(round(os.getloadavg()[0], 2))
        return elapsed

    # TWO full passes over the list, per-query min across ALL runs
    # (VERDICT r8 item 1): the r8 record showed that a noisy-neighbor
    # window lasting minutes inflates every best-of-3 run of the
    # queries that happen to land inside it (simhash_fingerprints
    # 3.71-4.16s recorded vs 1.62s quiet — uniform inflation that no
    # intra-query spread guard can see). Minutes-apart passes give
    # each query two independent noise draws; min-across-passes is
    # immune to any burst shorter than a full pass. A bounded quiet
    # re-gate between passes maximizes the chance pass 2 is clean.
    for pass_no in range(2):
        if pass_no:
            # JVM housekeeping at the pass boundary: let the
            # ContextCleaner reclaim pass-1 shuffle files/broadcasts
            # NOW (weak-ref cleanup needs a GC on a heap this large —
            # see session.py's periodicGC note) so pass 2 measures
            # plans, not accumulated block-manager litter.
            spark.sparkContext._jvm.System.gc()
            wait_for_quiet_host(threshold=2.0, max_wait_s=300.0)
        for name in registry.HEADLINE:
            for _ in range(2):
                timed_run(name)
            # spread guard (round-7, tightened round-9 from 2.0x to
            # 1.6x): a >1.6x best-to-worst spread on a non-trivial
            # query means a noise burst landed inside at least one
            # window; up to 2 extra runs recover the steady-state
            # minimum. Runs INLINE after the second pass's runs — a
            # separate guard phase at list end measured the oldest,
            # most block-laden session state (a dedup_clusters guard
            # run hit 128s vs a 10.6s in-pass min) and would record
            # only noise.
            if pass_no:
                runs = runs_meta[name]["runs"]
                extra = 0
                while (
                    extra < 2
                    and min(runs) > 0.5
                    and max(runs) / min(runs) > 1.6
                ):
                    timed_run(name)
                    extra += 1
                runs_meta[name]["t_wall"] = round(time.time(), 1)
    for name in registry.HEADLINE:
        timings[name] = min(runs_meta[name]["runs"])

    total = round(sum(timings.values()), 3)
    # Hygiene metadata (per-run times, load averages) goes to a
    # SIDECAR file, never the stdout JSON: round 4's official bench
    # record was lost ("parsed": null) because the embedded meta
    # pushed the single line past the driver's tail-capture window.
    # The compact line must be the LAST thing printed.
    meta = {
        # single-official-number policy (VERDICT r6 item 4): the
        # driver-recorded BENCH_r{N}.json parsed from this script's
        # final stdout line is THE round's official bench total.
        # SCALE.md / COVERAGE.md cite that artifact; ad-hoc closing
        # runs are hygiene checks and must not be quoted as totals.
        "official": "BENCH_r{N}.json (driver-parsed from this stdout line)",
        "total_sec_this_run": total,
        "n_queries": len(registry.HEADLINE),
        "best_of": "min over 2 passes x 2 runs (+spread-guard extras)",
        "cpus": str(spark.sparkContext.defaultParallelism),
        **gate,
        "load1_at_start": round(load1_at_start, 2),
        "load1_at_end": round(os.getloadavg()[0], 2),
        "runs": runs_meta,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    # Per-query map to a sidecar: it grows with the headline list
    # (>2 KB at 69 queries) and must never ride on the stdout line.
    # Written under BOTH the canonical name and a per-configuration
    # name (VERDICT r10 item 2): the driver benches the same tree at
    # two core counts and the second run used to OVERWRITE the first
    # run's per-query record, leaving PERF/scaling with no per-query
    # map for either config. The canonical file stays (it is what the
    # stdout line and past rounds point at); the _c{cpus} twin makes
    # each configuration's record durable.
    sidecar = {
        "sf": sf,
        "cpus": meta["cpus"],
        "n_queries": len(registry.HEADLINE),
        "queries": timings,
    }
    for fname in ("BENCH_queries.json", f"BENCH_queries_c{meta['cpus']}.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(sidecar, f, indent=1, sort_keys=True)
    spark.stop()
    print(stdout_line(total, len(registry.HEADLINE), sf))


if __name__ == "__main__":
    main()
