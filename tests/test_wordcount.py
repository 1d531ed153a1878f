"""Golden tests for the flagship word count over F1-style corpora
(FIXTURES.md edge cases: case_mix, delim_runs, all_delims, cut_words,
tiny, long_words)."""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.wordcount import (
    EmptyCorpusError,
    top_k_words,
    word_count_df,
    word_count_dir,
)
from mpi_word_count_spark.sinks import show_console, write_word_count_csv
from mpi_word_count_spark.tokenizer import delimiter_regex, load_delimiters
from tests.conftest import jobs_of


def rows(df):
    return [(r["word"], r["count"]) for r in df.collect()]


def make_corpus(tmp_path, files: dict[str, str]) -> str:
    d = tmp_path / "corpus"
    d.mkdir()
    for name, content in files.items():
        (d / name).write_text(content)
    return str(d)


def test_case_mix(spark, tmp_path):
    # S2: case-insensitive counting, lowercase output (hash_map.c:27-28)
    path = make_corpus(tmp_path, {"a.txt": "Roma ROMA roma\nMilano milano"})
    assert rows(word_count_dir(spark, path)) == [("milano", 2), ("roma", 3)]


def test_delim_runs(spark, tmp_path):
    # runs of delimiters produce no empty words (tokenizer.c:62-64)
    path = make_corpus(tmp_path, {"a.txt": ",,a..b,,  \n\t c;;\n", "b.txt": ";;;,,,"})
    assert rows(word_count_dir(spark, path)) == [("a", 1), ("b", 1), ("c", 1)]


def test_all_delims(spark, tmp_path):
    # every char of the 38-char alphabet separates (is_delimeter)
    text = "w0[w1]w2!w3\"w4#w5$w6%w7&w8'w9(wa)wb*wc+wd,we.wf/wg:wh;wi<wj=wk>wl?wm@wn\\wo^wp_wq`wr|ws{wt}wu~wv-ww"
    path = make_corpus(tmp_path, {"a.txt": text})
    got = rows(word_count_dir(spark, path))
    assert len(got) == 33 and all(c == 1 for _, c in got)


def test_ordering_bytewise(spark, tmp_path):
    # S4: ascending bytewise order (strcmp ≡ binary collation for ASCII)
    path = make_corpus(tmp_path, {"a.txt": "zeta Alpha beta10 beta2"})
    assert [w for w, _ in rows(word_count_dir(spark, path))] == [
        "alpha",
        "beta10",
        "beta2",
        "zeta",
    ]


def test_multi_file_aggregation(spark, tmp_path):
    # corpus abstracted as one bag of words across files (S6 analog)
    path = make_corpus(
        tmp_path, {"a.txt": "x y\n", "b.txt": "y z\n", "c.txt": "z z\n"}
    )
    assert rows(word_count_dir(spark, path)) == [("x", 1), ("y", 2), ("z", 3)]


def test_top_k(spark):
    df = spark.createDataFrame(
        [("a a a b b c",)], "text string"
    )
    assert rows(top_k_words(df, k=2)) == [("a", 3), ("b", 2)]


@pytest.mark.parametrize(
    "hidden", [(), (".keep", "_notes")], ids=["empty", "hidden-only"]
)
def test_empty_dir_errors(spark, tmp_path, hidden):
    # reference errors on an empty corpus (word_count_mpi.c:415-422);
    # Spark reads no file whose name starts with "." or "_"
    d = tmp_path / "corpus"
    d.mkdir()
    for name in hidden:
        (d / name).write_text("not read\n")
    with pytest.raises(EmptyCorpusError):
        word_count_dir(spark, str(d)).collect()


def test_csv_sink(spark, tmp_path):
    # S5: CSV header `Word,Count` (word_count_mpi.c:137)
    df = word_count_df(spark.createDataFrame([("b a b",)], "text string"))
    out = str(tmp_path / "csv_results.csv")
    write_word_count_csv(df, out)
    content = open(out).read().splitlines()
    assert content == ["Word,Count", "a,1", "b,2"]


@contextmanager
def uncoalesced(spark):
    """AQE would merge a small corpus's range partitions into one."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def test_csv_sink_parallel_parity(spark, tmp_path):
    # one part file per range partition, concatenated in name order,
    # must equal the whole corpus sorted by UTF-8 bytes (S4)
    files = {
        "a.txt": "Élan élan ÉLAN zebra,Zebra 42 4x\nΩmega ωMEGA b a 10 9\n",
        "b.txt": "naïve NAÏVE 𐐀ray 𐐨RAY 😀 𝒳 alpha--ALPHA 007\n",
        "c.txt": "straße Straße z y x w v u t s r q p o n m l k\n",
    }
    path = make_corpus(tmp_path, files)
    model = Counter(
        w.lower()
        for text in files.values()
        for w in re.split(delimiter_regex(), text)
        if w
    )
    want = "Word,Count\n" + "".join(
        f"{w},{model[w]}\n" for w in sorted(model, key=lambda w: w.encode())
    )
    out = tmp_path / "csv_results.csv"
    with uncoalesced(spark):
        df = word_count_dir(spark, path)
        assert df.rdd.getNumPartitions() > 1
        write_word_count_csv(df, str(out))
    assert out.read_bytes() == want.encode()


def test_csv_sink_all_delimiters_is_header_only(spark, tmp_path):
    path = make_corpus(tmp_path, {"a.txt": ",,;; \n\t..", "b.txt": "[]-\n"})
    out = tmp_path / "csv_results.csv"
    write_word_count_csv(word_count_dir(spark, path), str(out))
    assert out.read_bytes() == b"Word,Count\n"


def test_csv_sink_failure_leaves_no_scratch(spark, tmp_path):
    # a failing write keeps the previous CSV and leaves no scratch state
    out = tmp_path / "csv_results.csv"
    out.write_bytes(b"Word,Count\nold,1\n")
    bad = spark.createDataFrame([("a", 1)], "word string, count long").select(
        F.raise_error(F.lit("sink failure")).cast("string").alias("word"), "count"
    )
    with pytest.raises(Exception, match="sink failure"):
        write_word_count_csv(bad, str(out))
    assert out.read_bytes() == b"Word,Count\nold,1\n"
    assert [p.name for p in tmp_path.iterdir()] == ["csv_results.csv"]


def test_csv_sink_writes_words_unquoted(spark, tmp_path):
    # under an alphabet without `,` and `"` those characters are word
    # characters, written raw as the reference's `%s,%ld` writes them
    alphabet = tmp_path / "delims.txt"
    alphabet.write_text(".;")
    path = make_corpus(tmp_path, {"a.txt": 'a,b A,B;a,b. say"hi\nSAY"HI'})
    out = tmp_path / "csv_results.csv"
    write_word_count_csv(
        word_count_dir(spark, path, delimiters=load_delimiters(str(alphabet))), str(out)
    )
    assert out.read_bytes() == b'Word,Count\na,b,3\nsay"hi,2\n'


def test_paper_query_job_count_pinned(spark, tmp_path):
    # aggregate map, range sampling, range map, write — the same on
    # every warm call. One file per core, so widen() adds no shuffle.
    n = spark.sparkContext.defaultParallelism
    path = make_corpus(tmp_path, {f"{i}.txt": f"b a b {i}\nc a\n" for i in range(n)})
    out = str(tmp_path / "csv_results.csv")

    def call():
        write_word_count_csv(word_count_dir(spark, path), out)

    call()
    assert jobs_of(spark, call) == 4


def test_console_sink(spark):
    # seq-oracle format `Key: %s -- Value: %ld` (cell.c:37-39)
    df = word_count_df(spark.createDataFrame([("b a b",)], "text string"))
    assert show_console(df) == ["Key: a -- Value: 1", "Key: b -- Value: 2"]
