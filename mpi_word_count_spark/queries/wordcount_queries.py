"""Flagship word-count queries over the `documents` fixture.

These re-express the reference's single fixed query (SURVEY.md §3)
over the fixture table (documents.text stands in for the corpus
directory — FIXTURES.md F3) plus its natural extensions (top-k,
per-document lineage counts, document frequency).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.wordcount import top_k_words, word_count_df
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table
from mpi_word_count_spark.tokenizer import tokenize

_TOKS = f"""
    SELECT lower(unnest(regexp_split_to_array(text, '{sql_regex()}'))) AS word
    FROM documents
"""


def _scratch_path(sf_dir: str, name: str) -> str:
    """Stable scratch location for roundtrip sinks: one path per
    (sf, artifact), overwritten on every run — never a fresh mkdtemp
    per invocation (each driver verification round would leak a
    corpus-sized copy until /tmp fills)."""
    d = os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch", os.path.basename(sf_dir.rstrip("/"))
    )
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)

_TOKS_DOC = f"""
    SELECT doc_id,
           lower(unnest(regexp_split_to_array(text, '{sql_regex()}'))) AS word
    FROM documents
"""


@register(
    "wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S4: the reference's fixed query (word_count_mpi.c pipeline)."""
    return word_count_df(table(spark, "documents", sf_dir), col="text")


@register(
    "sql_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def sql_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same flagship query through the SQL entry point
    (`spark.sql` + temp view) — the engine's second query API. The
    word regex is bound as a named parameter, so the alphabet
    stays a literal byte list (S1) and never meets SQL string
    escaping. Catalyst plans this identically to the DataFrame form
    (same Exchange/HashAggregate shape — one plan, two front ends).
    """
    from mpi_word_count_spark.tokenizer import DEFAULT_DELIMITERS, word_regex

    table(spark, "documents", sf_dir).createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT word, count(*) AS count
        FROM (
            SELECT explode(regexp_extract_all(lower(text), :rx, 0)) AS word
            FROM documents_v
        )
        GROUP BY word
        ORDER BY word
        """,
        args={"rx": word_regex(DEFAULT_DELIMITERS)},
    )


@register(
    "wordcount_topk",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY count DESC, word ASC LIMIT 100
    """,
)
def wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 words: TakeOrderedAndProject, no global sort (M1)."""
    return top_k_words(table(spark, "documents", sf_dir), col="text", k=100)


@register(
    "wordcount_per_doc",
    oracle=f"""
    SELECT doc_id, word, count(*) AS count
    FROM ({_TOKS_DOC}) WHERE word <> ''
    GROUP BY doc_id, word
    """,
)
def wordcount_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document counts — the per-file lineage the reference keeps
    via its sorted dirent array (word_count_mpi.c:88-97)."""
    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text", keep=["doc_id"])
    return toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("count"))


@register(
    "csv_roundtrip",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5 sink parity: flagship result → `write_word_count_csv`
    (single file, `Word,Count` header — word_count_mpi.c:132-142) →
    read back with an explicit schema → same rows as the in-memory
    result. Exercises the full write/read sink path the reference's
    csv_results.csv consumer sees; the roundtrip must be lossless so
    the oracle is the flagship wordcount SQL itself.
    """
    from mpi_word_count_spark.sinks import write_word_count_csv

    out = word_count_df(table(spark, "documents", sf_dir), col="text")
    # stable per-sf path, overwritten each run — a fresh mkdtemp per
    # invocation would leak a corpus-sized file every driver round
    path = _scratch_path(sf_dir, "csv_results.csv")
    write_word_count_csv(out, path)
    return (
        spark.read.option("header", True)
        .schema("Word STRING, Count BIGINT")
        .csv(path)
        .withColumnRenamed("Word", "word")
        .withColumnRenamed("Count", "count")
        .orderBy("word")
    )


@register(
    "jsonl_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink roundtrip — the interchange format of LLM
    training corpora. documents → df.write.json (one JSON object per
    line, multi-line text escaped) → read back with an explicit schema
    (never infer at scale: inference is a full extra pass over 100 TB)
    → per-lang summary. Lossless roundtrip means the summary equals
    the same aggregate computed directly on the parquet table.
    """
    docs = table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    path = _scratch_path(sf_dir, "docs.jsonl")
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "xml_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip — Spark 4's native XML data source
    (the enterprise-interchange format). documents → one <row> element
    per document (text content XML-escaped, so arbitrary characters
    survive) → read back with an explicit schema → per-lang summary
    equal to the same aggregate on the parquet source. Completes the
    native format surface: parquet, ORC, CSV, JSONL, XML, text."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    path = _scratch_path(sf_dir, "docs.xml")
    docs.write.mode("overwrite").option("rootTag", "docs").option(
        "rowTag", "doc"
    ).format("xml").save(path)
    back = (
        spark.read.option("rowTag", "doc")
        .schema("doc_id BIGINT, lang STRING, text STRING")
        .format("xml")
        .load(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "rdd_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def rdd_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RDD demonstration path through the driver gate: documents
    exported to a text corpus directory, then the canonical
    flatMap → map → reduceByKey pipeline (operators/wordcount.
    word_count_rdd — the educational twin of the reference's explicit
    map/reduce phases). Embedded newlines in exported rows are
    harmless: '\\n' is a hard delimiter (S1), so line splits never
    change word counts. The DataFrame path remains the engine
    default (codegen, AQE); this locks the second API's semantics to
    the same oracle."""
    from mpi_word_count_spark.operators.wordcount import word_count_rdd

    docs = table(spark, "documents", sf_dir).select("text")
    path = _scratch_path(sf_dir, "corpus_txt")
    docs.write.mode("overwrite").text(path)
    return word_count_rdd(spark, path)


@register(
    "orc_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip — the second columnar format Spark
    ships natively (Hive-ecosystem interchange). documents →
    `df.write.orc` → read back with an explicit schema → filter on
    `lang` → per-lang summary. Unlike the row-format roundtrips
    (csv/jsonl), the read-back side must keep columnar privileges:
    the lang predicate reaches the ORC scan as a pushed filter and
    the projection prunes to 2 of 4 written columns (asserted in
    tests/test_connectors_bucketing.py) — format conversion without
    losing pushdown is the point at 100 TB.
    """
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = _scratch_path(sf_dir, "docs.orc")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"
    ).orc(path)
    return (
        back.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "partitioned_events_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def partitioned_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning — THE table layout
    primitive at 100 TB: events → `partitionBy(event_type)` parquet →
    read back → filter on the partition column → rollup. The filter
    prunes at the directory level (PartitionFilters in the scan, never
    touching 3/5 of the files — asserted in
    tests/test_connectors_bucketing.py::test_partition_pruning); the
    roundtrip is lossless so the oracle aggregates the source table
    directly.
    """
    ev = table(spark, "events", sf_dir)
    path = _scratch_path(sf_dir, "events_by_type.parquet")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "compaction_manifest",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(greatest(1, ceil(count(*) / 10000.0)) AS INT) AS files_after
    FROM events
    GROUP BY event_type
    """,
)
def compaction_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (lakehouse OPTIMIZE) over the
    hive-partitioned events layout: deliberately fragment each
    partition (32-way repartition before the partitioned write — the
    many-concurrent-writers ingest pattern), then compact every
    partition to ceil(rows / 10000) near-equal files via
    `operators.layout.compact_partitions`. Returns the measured
    manifest; the oracle recomputes rows and the ceil plan from the
    source table, so the query verifies that compaction (a) lost no
    rows and (b) produced exactly the planned file count. The
    before-state (files_before > files_after) and read-back equality
    are asserted in tests/test_connectors_bucketing.py.
    """
    from mpi_word_count_spark.operators.layout import compact_partitions

    ev = table(spark, "events", sf_dir)
    messy = _scratch_path(sf_dir, "events_messy.parquet")
    compacted = _scratch_path(sf_dir, "events_compacted.parquet")
    ev.repartition(32).write.mode("overwrite").partitionBy("event_type").parquet(
        messy
    )
    manifest = compact_partitions(
        spark, messy, compacted, "event_type", rows_per_file=10000
    )
    rows = [(v, n, after) for v, n, _before, after in manifest]
    return spark.createDataFrame(
        rows, "event_type string, n_rows bigint, files_after int"
    )


def _synth_wordcount_oracle() -> str:
    from mpi_word_count_spark.sources.synthetic import sql_synth_corpus_cte

    return f"""
    WITH {sql_synth_corpus_cte(1000, "synth")}
    SELECT word, count(*) AS count
    FROM synth_words GROUP BY word ORDER BY word
    """


@register("synthetic_corpus_wordcount", oracle=_synth_wordcount_oracle())
def synthetic_corpus_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source connector (Spark 4 API) driven
    through the flagship pipeline: the `synthcorpus` source plans
    contiguous doc_id ranges as input partitions (the reference's
    `info` split descriptor, word_count_mpi.c:20-23) and generates a
    deterministic md5-derived corpus executor-locally; word count runs
    over it unchanged. The oracle regenerates the identical corpus in
    SQL — a full value-hash gate over a user-defined connector."""
    from mpi_word_count_spark.sources.synthetic import register_synth_source

    register_synth_source(spark)
    corpus = (
        spark.read.format("synthcorpus")
        .option("n_docs", 1000)
        .option("seed", "synth")
        .option("partitions", 8)
        .load()
    )
    return word_count_df(corpus, col="text")


@register(
    "word_doc_frequency",
    oracle=f"""
    SELECT word,
           count(DISTINCT doc_id) AS doc_freq,
           count(*) AS total_count
    FROM ({_TOKS_DOC}) WHERE word <> ''
    GROUP BY word
    """,
)
def word_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency (distinct-agg exemplar; feeds TF-IDF)."""
    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text", keep=["doc_id"])
    return toks.groupBy("word").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("total_count"),
    )


def _custom_alphabet() -> str:
    """The config-source alphabet used by `config_delimiters_wordcount`:
    digits + brackets + dash as extra delimiters (exercises the regex
    escaping for `[`, `]`, `-`), whitespace always prepended
    (tokenizer.c:21 semantics via load_delimiters)."""
    from mpi_word_count_spark.tokenizer import WHITESPACE_DELIMITERS

    return "".join(dict.fromkeys(WHITESPACE_DELIMITERS + "[]0123456789-"))


def _custom_rx_sql() -> str:
    from mpi_word_count_spark.tokenizer import delimiter_regex

    return delimiter_regex(_custom_alphabet()).replace("'", "''")


@register(
    "config_delimiters_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM (
        SELECT lower(unnest(regexp_split_to_array(
                   text || ' q' || CAST(doc_id AS VARCHAR) || 'z',
                   '{_custom_rx_sql()}'))) AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def config_delimiters_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 config source driven end to end: a delimiters FILE is written,
    loaded the way the reference loads delimiters.txt (literal bytes,
    whitespace prepended — tokenizer.c:11-35), and the flagship count
    runs under the custom alphabet. The oracle compiles the identical
    alphabet through the same escaping, so the config→regex path is
    value-hash-verified, not just unit-tested.

    The fixture corpus is whitespace-separated, which makes any
    alphabet vacuously equivalent — so both sides append a synthetic
    ` q<doc_id>z` token: with digits in the alphabet it splits into
    q/z, with the default alphabet it would stay one q123z token, so
    a regression to the default alphabet changes the hash."""
    from mpi_word_count_spark.tokenizer import load_delimiters

    path = _scratch_path(sf_dir, "delimiters.txt")
    with open(path, "w", encoding="latin-1") as fh:
        fh.write("[]0123456789-")
    alphabet = load_delimiters(path)
    assert alphabet == _custom_alphabet()  # file path == registration path
    docs = table(spark, "documents", sf_dir).select(
        F.concat(
            F.col("text"), F.lit(" q"), F.col("doc_id").cast("string"), F.lit("z")
        ).alias("text")
    )
    toks = tokenize(docs, col="text", delimiters=alphabet)
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("word")
    )


@register(
    "console_lines",
    oracle=f"""
    SELECT 'Key: ' || word || ' -- Value: ' || CAST(count(*) AS VARCHAR) AS line
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def console_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 console sink format driven through the gate: the exact
    `Key: %s -- Value: %ld` line format (cell.c:37-39) as a column,
    so the sink's formatting semantics are oracle-verified (the
    interactive path `sinks.show_console` prints these same lines)."""
    wc = word_count_df(table(spark, "documents", sf_dir), col="text")
    return wc.select(
        F.format_string("Key: %s -- Value: %d", F.col("word"), F.col("count")).alias(
            "line"
        )
    )


@register(
    "incremental_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM ({_TOKS}) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def q_incremental_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the flagship aggregate: the
    corpus is split into a BASE (already-counted) partition and an
    arriving DELTA batch (doc_id % 10 == 0); each side is counted
    independently and the maintained view is the full-outer merge
    base ⊕ delta (SUM is a commutative monoid, so maintenance is one
    small join on the word key — never a recount). The oracle is the
    flagship FULL-RECOUNT SQL, so the driver hash-match IS the proof
    of the maintenance identity — the pattern that keeps corpus-wide
    statistics current at 100 TB when snapshots arrive (the aggregate
    twin of incremental_exact_dedup).
    """
    from mpi_word_count_spark.operators.wordcount import word_count_df

    docs = table(spark, "documents", sf_dir)
    is_delta = F.col("doc_id") % 10 == 0
    base = word_count_df(docs.filter(~is_delta), col="text", ordered=False)
    delta = word_count_df(docs.filter(is_delta), col="text", ordered=False)
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.word") == F.col("d.word"), "full_outer")
        .select(
            F.coalesce(F.col("b.word"), F.col("d.word")).alias("word"),
            (
                F.coalesce(F.col("b.count"), F.lit(0))
                + F.coalesce(F.col("d.count"), F.lit(0))
            ).alias("count"),
        )
        .orderBy("word")
    )


@register(
    "manifest_sink_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def manifest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source WRITER roundtrip: documents →
    `manifestsink` (per-task uniquely-named JSONL files + one atomic
    `_MANIFEST.json` commit naming exactly the committed files — the
    Iceberg-lite two-phase protocol, sources/manifest_sink.py) →
    manifest-resolved read-back → per-lang summary. Lossless roundtrip
    through the write/commit path means the summary equals the same
    aggregate on the source table; stray-file invisibility and the
    commit protocol itself are locked in tests/test_governance.py and
    the smoke asserts in tests/test_connectors_bucketing.py."""
    from mpi_word_count_spark.sources.manifest_sink import (
        read_manifest_jsonl,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    docs = table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    path = _scratch_path(sf_dir, "docs_manifest_jsonl")
    import shutil

    shutil.rmtree(path, ignore_errors=True)  # scratch is per-(sf, artifact)
    docs.write.format("manifestsink").option("path", path).mode(
        "append"
    ).save()
    back = read_manifest_jsonl(
        spark, path, "doc_id BIGINT, lang STRING, text STRING"
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "jsonl_schema_evolution",
    oracle="""
    SELECT 1 AS batch,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_lang_nulls,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(sum(length(text)) AS BIGINT)
    FROM documents WHERE doc_id % 2 = 1
    ORDER BY batch
    """,
)
def jsonl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest: batch 1 landed BEFORE the pipeline
    emitted `lang` (doc_id, text only); batch 2 carries the new
    column. Both land under a hive-partitioned layout
    (`batch=N/part-*.json`) and are read in ONE pass with the
    UNIFIED EXPLICIT schema — never inference (a full extra pass at
    100 TB, and inference would type batch 1's missing column away) —
    with partition discovery supplying the batch column and the
    missing column reading as null. The per-batch null accounting is
    the ingest-health audit: batch 1 all-null lang, batch 2 none."""
    docs = table(spark, "documents", sf_dir)
    base = _scratch_path(sf_dir, "docs_evolving_jsonl")
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").write.mode(
        "overwrite"
    ).json(f"{base}/batch=1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang"
    ).write.mode("overwrite").json(f"{base}/batch=2")
    back = (
        spark.read.schema("doc_id BIGINT, text STRING, lang STRING")
        .option("basePath", base)
        .json(base)
    )
    return (
        back.groupBy(F.col("batch").cast("int").alias("batch"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("lang").isNull(), 1)).alias("n_lang_nulls"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("batch")
    )


@register(
    "manifest_time_travel",
    oracle="""
    SELECT 1 AS version,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(length(text)) AS BIGINT)
    FROM documents
    ORDER BY version
    """,
)
def manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL through retained manifests: two append commits to
    the manifestsink (even docs, then odd docs) produce snapshots v1
    and v2 — each version's manifest is retained, and reading AS OF a
    version is nothing more than resolving that manifest (the entire
    trick behind lakehouse time travel). The query reads BOTH
    snapshots back and summarizes each: v1 sees only the first
    commit's documents, v2 the union — proving commits are snapshot-
    isolated (a reader pinned to v1 while v2 commits sees no change)
    and append-consistent."""
    from mpi_word_count_spark.sources.manifest_sink import (
        read_manifest_jsonl,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    path = _scratch_path(sf_dir, "docs_time_travel")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    docs.filter(F.col("doc_id") % 2 == 0).write.format("manifestsink").option(
        "path", path
    ).mode("append").save()
    docs.filter(F.col("doc_id") % 2 == 1).write.format("manifestsink").option(
        "path", path
    ).mode("append").save()
    schema = "doc_id BIGINT, text STRING"
    out = None
    for v in (1, 2):
        snap = read_manifest_jsonl(spark, path, schema, version=v).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        ).select(F.lit(v).alias("version"), "n_docs", "total_chars")
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("version")
