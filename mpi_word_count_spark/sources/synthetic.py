"""Deterministic synthetic-corpus source — a custom batch connector
built on Spark 4's Python Data Source API.

Why it exists: at 100 TB you benchmark the ENGINE, not the disks —
a generated corpus removes I/O from the measurement and scales to any
size by changing one option. The source demonstrates the full
connector contract the reference implements natively (partition
planning at word_count_mpi.c:222-330, per-split scan at :346-384):

  * `partitions()` plans contiguous doc_id ranges — the split
    metadata, the moral twin of the reference's `info` descriptor
    (word_count_mpi.c:20-23). Spark schedules one task per range, so
    generation is embarrassingly parallel and executor-local.
  * `read(partition)` yields only that range — no global state, no
    driver round-trip.

Everything derives from the md5 hash family (functions/hashing.py),
so the DuckDB oracle regenerates the IDENTICAL corpus in SQL and the
driver's value-hash gate covers a custom Python connector end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

from mpi_word_count_spark.functions.hashing import py_hash32, sql_hash32

# 16 fixed corpus words (power of two keeps the modulus unbiased).
SYNTH_VOCAB: tuple[str, ...] = (
    "batch", "cache", "data", "engine", "filter", "graph", "hash",
    "index", "join", "kernel", "lambda", "merge", "node", "query",
    "shuffle", "spark",
)
MIN_WORDS = 5
LEN_SPREAD = 20  # doc length uniform in [MIN_WORDS, MIN_WORDS + LEN_SPREAD)


def synth_doc(doc_id: int, seed: str) -> str:
    """Document `doc_id` of corpus `seed`: hash-drawn SYNTH_VOCAB words,
    as many as its hash-drawn length (sql_synth_corpus_cte regenerates
    the same words in DuckDB)."""
    n = MIN_WORDS + py_hash32(str(doc_id), f"{seed}:len") % LEN_SPREAD
    return " ".join(
        SYNTH_VOCAB[py_hash32(f"{doc_id}:{i}", f"{seed}:w") % len(SYNTH_VOCAB)]
        for i in range(n)
    )


def sql_synth_corpus_cte(n_docs: int, seed: str) -> str:
    """DuckDB CTE chain ending in `synth_words(doc_id, i, word)` —
    regenerates the source's exact output for oracle parity."""
    vocab_rows = ", ".join(
        f"({i}, '{w}')" for i, w in enumerate(SYNTH_VOCAB)
    )
    len_hash = sql_hash32("CAST(doc_id AS VARCHAR)", f"{seed}:len")
    word_hash = sql_hash32(
        "(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))", f"{seed}:w"
    )
    return f"""
    sized AS (
        SELECT unnest(range(0, {n_docs})) AS doc_id
    ),
    lens AS (
        SELECT doc_id, {MIN_WORDS} + ({len_hash} % {LEN_SPREAD}) AS n
        FROM sized
    ),
    vocab(idx, w) AS (VALUES {vocab_rows}),
    synth_words AS (
        SELECT l.doc_id, i.i, v.w AS word
        FROM lens l
        CROSS JOIN (SELECT unnest(range(0, {MIN_WORDS + LEN_SPREAD})) AS i) i
        JOIN vocab v ON v.idx = ({word_hash} % {len(SYNTH_VOCAB)})
        WHERE i.i < l.n
    )"""


try:  # the Data Source API needs pyspark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    class DocRange(InputPartition):
        """Contiguous [start, end) doc_id split — the planner's unit."""

        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class SynthCorpusReader(DataSourceReader):
        def __init__(self, options: dict):
            self.n_docs = int(options.get("n_docs", 1000))
            self.seed = options.get("seed", "synth")
            self.n_partitions = max(1, int(options.get("partitions", 8)))

        def partitions(self) -> list[DocRange]:
            if self.n_docs <= 0:
                return [DocRange(0, 0)]  # empty source, one no-op split
            step = -(-self.n_docs // self.n_partitions)
            return [
                DocRange(lo, min(lo + step, self.n_docs))
                for lo in range(0, self.n_docs, step)
            ]

        def read(self, partition: DocRange) -> Iterator[tuple]:
            for doc_id in range(partition.start, partition.end):
                yield (doc_id, synth_doc(doc_id, self.seed))

    class SynthCorpusStreamReader(SimpleDataSourceStreamReader):
        """Micro-batch reader over the same corpus: offsets are doc_id
        watermarks, each batch emits the next `batch_docs` documents
        until `n_docs` is exhausted. Deterministic generation makes
        replay (`readBetweenOffsets`) exact — the property a real
        source gets from a durable log, here for free."""

        def __init__(self, options: dict):
            self.n_docs = int(options.get("n_docs", 1000))
            self.seed = options.get("seed", "synth")
            self.batch_docs = max(1, int(options.get("batch_docs", 200)))

        def initialOffset(self) -> dict:
            return {"doc_id": 0}

        def read(self, start: dict):
            lo = start["doc_id"]
            hi = min(lo + self.batch_docs, self.n_docs)
            return self._gen(lo, hi), {"doc_id": hi}

        def readBetweenOffsets(self, start: dict, end: dict):
            return self._gen(start["doc_id"], end["doc_id"])

        def _gen(self, lo: int, hi: int) -> Iterator[tuple]:
            # a LIST iterator, not a generator: the prefetch cache
            # copy.copy()s and pickles the iterator (generators can't),
            # and the empty-batch check next()s it (bare lists can't);
            # batch_docs bounds driver memory per micro-batch
            return iter(
                [
                    (doc_id, synth_doc(doc_id, self.seed))
                    for doc_id in range(lo, hi)
                ]
            )

    class SynthCorpusDataSource(DataSource):
        """`spark.read.format("synthcorpus")` after
        `spark.dataSource.register(SynthCorpusDataSource)`; also
        streamable via `spark.readStream.format("synthcorpus")`."""

        @classmethod
        def name(cls) -> str:
            return "synthcorpus"

        def schema(self) -> str:
            return "doc_id bigint, text string"

        def reader(self, schema) -> SynthCorpusReader:
            return SynthCorpusReader(self.options)

        def simpleStreamReader(self, schema) -> SynthCorpusStreamReader:
            return SynthCorpusStreamReader(self.options)

    HAVE_DATASOURCE_API = True
except ImportError:  # pragma: no cover - pyspark < 4.0
    HAVE_DATASOURCE_API = False


def register_synth_source(spark) -> None:
    """Idempotent per-session registration of the connector."""
    if not HAVE_DATASOURCE_API:
        raise ImportError(
            "the synthcorpus connector needs the Python Data Source API "
            "(pyspark >= 4.0)"
        )
    spark.dataSource.register(SynthCorpusDataSource)
