"""The flagship query: distributed word count (reference parity).

Reference logical plan (SURVEY.md §3):

    SELECT lower(word) AS word, count(*) AS count
    FROM   explode(split_by_delimiters(read_text(dir)))
    WHERE  word <> ''
    GROUP  BY lower(word)
    ORDER  BY word;          -- bytewise ascending

Spark-first design notes
------------------------
* Ingest is `spark.read.text(dir)`: Spark's file source plans
  byte-range splits per `spark.sql.files.maxPartitionBytes` and
  aligns them to line boundaries (Hadoop LineRecordReader) — the
  exactly-once boundary-word guarantee the reference hand-implements
  at word_count_mpi.c:285-322 (S6). `\n` is a hard delimiter
  (tokenizer.c:7) so words never span lines and alignment holds.
* The aggregation is `groupBy(word).count()`: Tungsten performs
  map-side partial aggregation (the reference's per-rank hash map,
  hash_map.c:69-79) and the shuffle exchanges only |distinct words|
  rows — same asymptotics as the reference's tree reduce
  (word_count_mpi.c:147-209), but all-to-all instead of ⌈log₂n⌉
  rounds into one rank: strictly more scalable at 1000 executors
  because the final state is partitioned, not concentrated.
* Everything is built-in columnar expressions — whole-stage codegen,
  no Python in the hot path, so the scan→project→explode→agg pipeline
  runs at JVM speed regardless of corpus size.
* The final `orderBy(word)` (S4) is a range-partitioned sort — only
  applied when the caller asks for ordered output; the CSV sink
  writes its range partitions in parallel and joins them in order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.tokenizer import DEFAULT_DELIMITERS, tokenize


class EmptyCorpusError(ValueError):
    """Reference parity: an empty corpus directory is an error
    (word_count_mpi.c:415-422), not an empty result."""


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.text(path)` (schema: value string), raising
    EmptyCorpusError when Spark's own listing finds no file to read —
    it skips names starting with `.` or `_`, and covers non-local
    paths too."""
    lines = spark.read.text(path)
    if not lines.inputFiles():
        raise EmptyCorpusError(f"corpus {path!r} contains no file to read")
    return lines


def word_count_df(
    df: DataFrame,
    col: str = "text",
    delimiters: str = DEFAULT_DELIMITERS,
    ordered: bool = True,
) -> DataFrame:
    """Word count over a string column → DataFrame[word, count].

    Implements S1 (tokenize), S2 (lowercase), S3 (sum), S4 (bytewise
    ascending order when `ordered`).
    """
    from mpi_word_count_spark.operators import widen

    counts = (
        tokenize(widen(df), col=col, delimiters=delimiters)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return counts.orderBy("word") if ordered else counts


def word_count_dir(
    spark: SparkSession,
    path: str,
    delimiters: str = DEFAULT_DELIMITERS,
    ordered: bool = True,
) -> DataFrame:
    """Word count over a corpus directory of text files — the
    reference's native input (word_count_mpi.c:32-56, O1/O2).

    `spark.read.text` enumerates the directory and plans byte-range
    splits; per-file lineage is recoverable via `input_file_name()`
    (the reference keeps a sorted dirent array for the same purpose,
    word_count_mpi.c:88-97).
    """
    lines = read_corpus(spark, path)
    return word_count_df(lines, col="value", delimiters=delimiters, ordered=ordered)


def word_count_compat(
    df: DataFrame,
    col: str = "text",
    delimiters: str = DEFAULT_DELIMITERS,
) -> DataFrame:
    """Strict reference-compat word count (SURVEY.md §7 hard parts).

    The reference silently truncates words to 29 chars (char key[30],
    cell.h:1-4 — longer words are buffer-overflow UB we replicate as
    clean truncation) and case-folds ASCII-only (C tolower,
    hash_map.c:27-28). Defaults in word_count_df are the sane modern
    ones (unbounded, Unicode); this variant exists for byte-exact
    parity runs against reference output.
    """
    from mpi_word_count_spark.tokenizer import tokenize

    toks = tokenize(df, col=col, delimiters=delimiters, lowercase=False)
    word = F.col("word")
    # ASCII-only folding: translate A-Z only, leave Unicode alone
    word = F.translate(
        F.substring(word, 1, 29),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    counts = (
        toks.select(word.alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return counts.orderBy("word")


def word_count_rdd(spark: SparkSession, path: str) -> DataFrame:
    """RDD demonstration path (SURVEY.md §1.3): the canonical
    flatMap → map → reduceByKey word count. Kept as the educational
    twin of the reference's explicit map/reduce phases
    (word_count_mpi.c:346-384 scan, :147-209 reduce); the DataFrame
    path is strictly better (codegen, AQE) and is the engine default.
    """
    import re

    from mpi_word_count_spark.tokenizer import delimiter_regex

    read_corpus(spark, path)  # the empty-corpus check of the DataFrame path
    rx = re.compile(delimiter_regex())
    counts = (
        spark.sparkContext.textFile(path)
        .flatMap(rx.split)
        .filter(lambda w: w != "")
        .map(lambda w: (w.lower(), 1))
        .reduceByKey(lambda a, b: a + b)  # map-side combine, like O15/O18
    )
    return spark.createDataFrame(counts, "word string, count long").orderBy("word")


def top_k_words(df: DataFrame, col: str = "text", k: int = 100) -> DataFrame:
    """Top-k most frequent words (M1 extension): full aggregation then
    a TakeOrderedAndProject — Spark converts orderBy+limit into a
    per-partition top-k + driver merge, so no global sort happens."""
    counts = word_count_df(df, col=col, ordered=False)
    return counts.orderBy(F.desc("count"), F.asc("word")).limit(k)
