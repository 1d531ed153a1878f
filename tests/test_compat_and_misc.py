"""Strict-compat mode, RDD demo path, timing sink."""

from __future__ import annotations

import os

from mpi_word_count_spark.operators.wordcount import (
    word_count_compat,
    word_count_dir,
    word_count_rdd,
)
from mpi_word_count_spark.sinks import timing_log


def test_compat_truncation_and_ascii_fold(spark):
    # 29-char truncation (cell.h:1-4) merges long words sharing a prefix;
    # ASCII-only folding leaves Unicode uppercase alone (C tolower)
    long_a = "x" * 29 + "aaa"
    long_b = "x" * 29 + "bbb"
    df = spark.createDataFrame(
        [(f"{long_a} {long_b} ÉCOLE école Mixed",)], "text string"
    )
    got = {r["word"]: r["count"] for r in word_count_compat(df).collect()}
    assert got["x" * 29] == 2          # truncated to same key
    assert got["École".replace("E", "É")] == 1  # É NOT folded (ASCII-only)
    assert got["école"] == 1
    assert got["mixed"] == 1


def test_compat_default_differs(spark):
    df = spark.createDataFrame([("ÉCOLE école",)], "text string")
    from mpi_word_count_spark.operators.wordcount import word_count_df

    unicode_fold = {r["word"]: r["count"] for r in word_count_df(df).collect()}
    assert unicode_fold == {"école": 2}  # default mode: Unicode folding


def test_rdd_path_matches_dataframe(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("Roma roma[b] c-c\n")
    df_res = [(r["word"], r["count"]) for r in word_count_dir(spark, str(d)).collect()]
    rdd_res = [(r["word"], r["count"]) for r in word_count_rdd(spark, str(d)).collect()]
    assert df_res == rdd_res == [("b", 1), ("c", 2), ("roma", 2)]


def test_timing_log(tmp_path):
    path = os.path.join(tmp_path, "timing.log")
    with timing_log(path, label="unit"):
        pass
    content = open(path).read()
    assert content.startswith("unit: ") and content.endswith(" s\n")


def test_cli_main(tmp_path):
    """The reference's user surface (word_count_mpi.c:25-56): --path in,
    csv_results.csv + timing.log out, console format, --compat mode."""
    from mpi_word_count_spark.__main__ import main

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "a.txt").write_text("Hello world hello\n")
    out = str(tmp_path / "out.csv")
    rc = main(
        ["--path", str(corpus), "--output", out, "--timing", str(tmp_path / "t.log")]
    )
    assert rc == 0
    got = open(out).read().splitlines()
    assert got[0] == "Word,Count"
    assert got[1:] == ["hello,2", "world,1"]
    assert (tmp_path / "t.log").read_text().startswith("word_count:")


def test_cli_explain_and_list(capsys):
    """Debug sink (O7): --explain dumps the formatted physical plan of
    any registered query; --list-queries enumerates the registry."""
    from mpi_word_count_spark.__main__ import main

    assert main(["--list-queries"]) == 0
    names = capsys.readouterr().out.splitlines()
    assert "wordcount" in names and len(names) >= 100
    assert main(["--explain", "wordcount"]) == 0
    plan = capsys.readouterr().out
    assert "== Physical Plan ==" in plan
    assert "Scan parquet" in plan
    import pytest as _pytest

    with _pytest.raises(SystemExit):  # argparse error for unknown name
        main(["--explain", "no_such_query"])


def test_cli_main_compat_and_bad_path(tmp_path):
    from mpi_word_count_spark.__main__ import main
    from mpi_word_count_spark.operators.wordcount import EmptyCorpusError

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    # a 35-char word: truncated to 29 chars in compat mode only
    long_word = "a" * 35
    (corpus / "a.txt").write_text(f"{long_word} Mixed CASE case\n")
    out = str(tmp_path / "out.csv")
    rc = main(
        [
            "--path", str(corpus), "--compat",
            "--output", out, "--timing", str(tmp_path / "t.log"),
        ]
    )
    assert rc == 0
    got = dict(
        line.split(",") for line in open(out).read().splitlines()[1:]
    )
    assert got["a" * 29] == "1"  # 29-char truncation (cell.h:2)
    assert got["case"] == "2"  # ASCII folding
    # both branches give the friendly empty-corpus error, not a Py4J trace
    empty = tmp_path / "empty"
    empty.mkdir()
    import pytest as _pytest

    for flags in ([], ["--compat"]):
        with _pytest.raises(EmptyCorpusError):
            main(["--path", str(empty), "--output", out, *flags])


def test_bench_stdout_line_contract():
    """BENCH_r04 and BENCH_r07 were both lost ("parsed": null) because
    the final stdout line outgrew the driver's 2000-byte tail-capture
    window. The line now carries only fixed-size fields; the per-query
    map lives in BENCH_queries.json. Guard the contract at any
    plausible list size / total magnitude."""
    import json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    for n, total in [(1, 0.001), (69, 84.123), (500, 99999.999)]:
        line = bench.stdout_line(total, n, 0.1)
        assert len(line) < 300
        parsed = json.loads(line)
        assert parsed["value"] == total
        assert parsed["n_queries"] == n
        # nothing list-sized may ride on the stdout line
        assert parsed["queries"] == {"see": "BENCH_queries.json"}


def test_session_defaults_come_from_the_host(monkeypatch):
    """Without env overrides the local session takes the host's usable
    cores and 3/8 of its physical RAM as driver heap (no JVM needed)."""
    from mpi_word_count_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    assert session.host_defaults() == (3, "6144m")
    pages["SC_PHYS_PAGES"] = (128 << 30) // 4096
    assert session.host_defaults() == (3, "49152m")  # the old fixed 48g
    pages["SC_PHYS_PAGES"] = (1 << 30) // 4096
    assert session.host_defaults() == (3, "512m")  # floor on tiny hosts


def test_get_spark_cpus_sets_slots_and_parallelism(monkeypatch):
    """One number sets the local task slots and the default parallelism,
    as `mpirun -np N` sets the reference's worker count: a local[2]
    master with the host's parallelism made widen() split every word
    count for task slots that did not exist (no JVM needed)."""
    from types import SimpleNamespace

    from mpi_word_count_spark import session

    conf = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            conf["master"] = master
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    session.get_spark(cpus=2)
    assert conf["master"] == "local[2]"
    assert conf["spark.default.parallelism"] == "2"


def test_scaling_bench_runs_one_point():
    """One word-count scaling point end to end: a fresh JVM, its session
    from get_spark(cpus=1), one copy of the corpus."""
    import sys

    from tests.conftest import SF_DIR

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import scaling_bench

    assert scaling_bench.run_point(1, SF_DIR, 1) > 0


def test_table_memo_is_per_session(spark):
    """A sibling session (same application, its own conf) resolves its
    own relation: the memoized relation of the first session would run
    on that session's shuffle/AQE settings instead."""
    from pyspark.sql import functions as F

    from mpi_word_count_spark.tables import table

    from tests.conftest import SF_DIR

    assert table(spark, "orders", SF_DIR).sparkSession is spark
    sibling = spark.newSession()
    sibling.conf.set("spark.sql.shuffle.partitions", "3")
    sibling.conf.set("spark.sql.adaptive.enabled", "false")
    orders = table(sibling, "orders", SF_DIR)
    assert orders.sparkSession is sibling
    assert table(sibling, "orders", SF_DIR) is orders  # still memoized
    grouped = orders.groupBy("o_custkey").agg(F.count(F.lit(1)))
    assert grouped.rdd.getNumPartitions() == 3
