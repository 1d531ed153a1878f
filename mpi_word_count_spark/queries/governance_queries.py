"""Data-governance and web-extraction queries: GDPR erasure
propagation, HTML boilerplate stripping, Unicode NFC normalization,
and URL/domain crawl audits.

These are the operational queries a 100 TB training-data platform
runs beside curation proper: deletion requests must cascade through
every fact table that references a user (and the audit must PROVE no
orphans remain), crawled text arrives wrapped in markup that has to
be stripped before any quality/dedup stage, non-NFC Unicode breaks
exact dedup (two byte sequences, one grapheme), and the per-domain
URL census is the crawl-source audit behind robots/blocklist policy.

The fixture corpus is markup-free, URL-free and (almost always)
ASCII, so — same device as pii_redaction_stats
(text_queries.py:368-377) — each query plants DETERMINISTIC
doc_id-derived fixtures on BOTH engines, making the transformation
itself value-hash-verifiable rather than vacuously exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.parity import sql_portable_round
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table

# ---------------------------------------------------------------------------
# GDPR erasure propagation
# ---------------------------------------------------------------------------

# the erasure "request queue": every 37th customer key. Expressed as
# a TABLE (not a predicate) on both sides — production requests are a
# list, so the operator shape is requests ⋈ facts, never a filter.
_ERASURE_MOD = 37


@register(
    "user_erasure_audit",
    oracle=f"""
    WITH req AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {_ERASURE_MOD} = 0
    ),
    o_erased AS (
        SELECT o.o_orderkey FROM orders o
        JOIN req r ON o.o_custkey = r.c_custkey
    ),
    c AS (
        SELECT count(*) AS before_n,
               count(CASE WHEN c_custkey % {_ERASURE_MOD} = 0 THEN 1 END)
                   AS erased_n
        FROM customer
    ),
    o AS (
        SELECT count(*) AS before_n,
               count(r.c_custkey) AS erased_n
        FROM orders LEFT JOIN req r ON o_custkey = r.c_custkey
    ),
    l AS (
        SELECT count(*) AS before_n,
               count(e.o_orderkey) AS erased_n
        FROM lineitem LEFT JOIN o_erased e ON l_orderkey = e.o_orderkey
    )
    SELECT 'customer' AS table_name, before_n AS rows_before,
           erased_n AS rows_erased, before_n - erased_n AS rows_after,
           CAST(0 AS BIGINT) AS orphans_after
    FROM c
    UNION ALL
    SELECT 'lineitem', before_n, erased_n, before_n - erased_n,
           (SELECT count(*) FROM lineitem li
            LEFT JOIN o_erased e ON li.l_orderkey = e.o_orderkey
            LEFT JOIN orders oo ON li.l_orderkey = oo.o_orderkey
            LEFT JOIN req rr ON oo.o_custkey = rr.c_custkey
            WHERE e.o_orderkey IS NULL AND rr.c_custkey IS NOT NULL)
    FROM l
    UNION ALL
    SELECT 'orders', before_n, erased_n, before_n - erased_n,
           (SELECT count(*) FROM orders o2
            LEFT JOIN req r2 ON o2.o_custkey = r2.c_custkey
            WHERE r2.c_custkey IS NULL
              AND o2.o_custkey % {_ERASURE_MOD} = 0)
    FROM o
    ORDER BY table_name
    """,
)
def q_user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: given a table of erasure
    requests (customer keys), count what each table must drop —
    customer rows directly, orders via o_custkey, lineitem via the
    orderkeys of erased orders — and PROVE the post-delete state has
    no orphaned references (rows the cascade should have caught but
    didn't; 0 on a correct cascade, and the planted-violation case is
    locked in tests/test_governance.py).

    Scale shape: the request table is always tiny relative to the
    facts (a deletion queue, not a dataset), so every probe is a
    BROADCAST join against request keys — the 100 TB fact tables are
    each scanned once, shuffle-free. The erased-order keyset (fan-out
    of the requests) stays proportionally small and is broadcast to
    lineitem the same way. Counts aggregate per table in one pass via
    join-flag conditional aggregation, never one scan per audit
    column."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    req = c.filter(F.col("c_custkey") % _ERASURE_MOD == 0).select("c_custkey")

    c_stats = c.agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.count(
            F.when(F.col("c_custkey") % _ERASURE_MOD == 0, 1)
        ).alias("rows_erased"),
    ).select(
        F.lit("customer").alias("table_name"),
        "rows_before",
        "rows_erased",
        (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
        F.lit(0).cast("bigint").alias("orphans_after"),
    )

    # one scan of orders: flag erased rows via broadcast left join
    o_flagged = o.join(
        F.broadcast(req), o.o_custkey == req.c_custkey, "left"
    ).select("o_orderkey", "o_custkey", F.col("c_custkey").alias("_req"))
    # orphan check for orders: a surviving row whose parent customer
    # was erased (vacuously 0 here because the cascade and the audit
    # share the request table — the point is the query PROVES it)
    o_stats = o_flagged.agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.count("_req").alias("rows_erased"),
        F.count(
            F.when(
                F.col("_req").isNull()
                & (F.col("o_custkey") % _ERASURE_MOD == 0),
                1,
            )
        ).alias("orphans_after"),
    ).select(
        F.lit("orders").alias("table_name"),
        "rows_before",
        "rows_erased",
        (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
        "orphans_after",
    )

    o_erased = o_flagged.filter(F.col("_req").isNotNull()).select("o_orderkey")
    # erased-parent detection for the lineitem orphan column: join the
    # SURVIVOR rows back to orders->requests; zero on a correct cascade
    o_parent = o_flagged.select(
        "o_orderkey", F.col("_req").isNotNull().alias("_parent_erased")
    )
    l_flagged = li.select("l_orderkey").join(
        F.broadcast(o_erased), li.l_orderkey == o_erased.o_orderkey, "left"
    ).select("l_orderkey", F.col("o_orderkey").alias("_req"))
    l_stats = l_flagged.join(
        F.broadcast(o_parent), l_flagged.l_orderkey == o_parent.o_orderkey, "left"
    ).agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.count("_req").alias("rows_erased"),
        F.count(
            F.when(F.col("_req").isNull() & F.col("_parent_erased"), 1)
        ).alias("orphans_after"),
    ).select(
        F.lit("lineitem").alias("table_name"),
        "rows_before",
        "rows_erased",
        (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
        "orphans_after",
    )

    return c_stats.unionByName(o_stats).unionByName(l_stats).orderBy(
        "table_name"
    )


# ---------------------------------------------------------------------------
# HTML boilerplate stripping
# ---------------------------------------------------------------------------

# RE2- and Java-regex-portable patterns: (?s) dotall, non-greedy
# block bodies, no backreferences, no lookaround.
_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_TAG_RE = r"<[^>]+>"
_ENTITY_RE = r"&[a-z]+;"
_WS_RE = r"\s+"


def _html_augmented_cte(src: str = "documents") -> str:
    """Deterministic markup wrapper (DuckDB side): every even doc_id
    is wrapped in a realistic page shell — head with script+style
    blocks (content must vanish entirely), nav/footer boilerplate,
    an HTML entity — odd doc_ids stay plain so the no-op branch is
    exercised on the same run. `src` is any relation with
    (doc_id, text) — the batch oracle reads `documents`, the
    streaming-parity oracle the regenerated synth corpus."""
    return f"""
    aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN
                   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || '</title><script type="text/javascript">var id='
                   || CAST(doc_id AS VARCHAR) || ';track();</script>'
                   || '<style>.m{{color:red;}}</style></head><body>'
                   || '<nav><a href="/">Home</a>|<a href="/a">About</a></nav><p>'
                   || text
                   || '</p><footer>&copy; example.org '
                   || CAST(doc_id AS VARCHAR) || '</footer></body></html>'
               ELSE text END AS text
        FROM {src}
    )"""


def _html_augment(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id").cast("string")
    wrapped = F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit('</title><script type="text/javascript">var id='),
        did,
        F.lit(";track();</script>"),
        F.lit("<style>.m{color:red;}</style></head><body>"),
        F.lit('<nav><a href="/">Home</a>|<a href="/a">About</a></nav><p>'),
        F.col("text"),
        F.lit("</p><footer>&copy; example.org "),
        did,
        F.lit("</footer></body></html>"),
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, wrapped)
        .otherwise(F.col("text"))
        .alias("text"),
    )


def strip_html(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tag-stripping text extraction: drop script/style blocks WITH
    their contents, then remaining tags and entities, then collapse
    whitespace. Pure JVM regexp_replace chain — whole-stage codegen,
    no shuffle, no Python; cost is linear in page bytes at any scale.
    (A production extractor adds block-level heuristics a la
    trafilatura; nav-text survival is the documented limitation —
    this is the deterministic, verifiable core.)"""
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(F.col(text_col), _SCRIPT_RE, " "),
                        _STYLE_RE,
                        " ",
                    ),
                    _TAG_RE,
                    " ",
                ),
                _ENTITY_RE,
                " ",
            ),
            _WS_RE,
            " ",
        )
    )
    return df.withColumn("extracted", stripped)


@register(
    "html_boilerplate_strip",
    oracle=f"""
    WITH {_html_augmented_cte()},
    ex AS (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(text,
                        '{_SCRIPT_RE}', ' ', 'g'),
                        '{_STYLE_RE}', ' ', 'g'),
                        '{_TAG_RE}', ' ', 'g'),
                        '{_ENTITY_RE}', ' ', 'g'),
                        '{_WS_RE}', ' ', 'g')) AS extracted
        FROM aug
    )
    SELECT doc_id,
           (doc_id % 2 = 0) AS had_markup,
           CAST(length(extracted) AS BIGINT) AS extracted_len,
           {sql_portable_round(
               "1.0 - CAST(length(extracted) AS DOUBLE) / length(text)"
           )} AS markup_ratio,
           md5(extracted) AS extracted_hash
    FROM ex
    """,
)
def q_html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-page text extraction over the deterministically
    markup-augmented corpus: script/style blocks vanish with their
    contents, tags and entities drop, whitespace collapses. Per doc:
    markup flag, extracted length, markup byte ratio, and the md5 of
    the extracted text — so the extraction itself is value-hash
    verified cross-engine, not just exercised. Plan is a single
    narrow projection (zero exchanges, asserted in the plan-audit
    suite)."""
    from mpi_word_count_spark.functions.parity import portable_round

    aug = _html_augment(table(spark, "documents", sf_dir))
    ex = strip_html(aug)
    return ex.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("had_markup"),
        F.length("extracted").cast("bigint").alias("extracted_len"),
        portable_round(
            F.lit(1.0) - F.length("extracted").cast("double") / F.length("text")
        ).alias("markup_ratio"),
        F.md5("extracted").alias("extracted_hash"),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization
# ---------------------------------------------------------------------------


def _nfc_augmented_cte() -> str:
    """Plant decomposed (non-NFC) sequences: combining acute U+0301
    (chr 769) on ≡0 (mod 3) and combining ring U+030A (chr 778) on
    ≡0 (mod 5) — NFC composes them to 'é' / 'å', shrinking the
    character count by one each."""
    return """
    aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' cafe' || chr(769) ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' a' || chr(778) || 'ngstrom' ELSE '' END
                   AS text
        FROM documents
    )"""


def _nfc_augment(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.lit(" cafe\u0301")).otherwise(
                F.lit("")
            ),
            F.when(did % 5 == 0, F.lit(" a\u030angstrom")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def nfc_normalize_col(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization as a VECTORIZED pandas_udf (Arrow
    batches in, C-speed unicodedata.normalize per row inside — the
    same kernel shape as the zlib ratio, textanalysis.py). Spark has
    no built-in UAX#15 normalizer, so this is the documented
    Python-kernel exception: narrow projection, no shuffle, linear in
    corpus bytes. Both engines implement UAX#15 (CPython unicodedata
    vs DuckDB utf8proc), so normalized text value-hash-matches."""
    from pyspark.sql.functions import pandas_udf

    def _nfc(texts):  # pd.Series -> pd.Series (Arrow batch)
        import unicodedata

        return texts.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    nfc = pandas_udf(_nfc, "string")
    return df.withColumn("nfc_text", nfc(F.col(text_col)))


@register(
    "unicode_nfc_stats",
    oracle=f"""
    WITH {_nfc_augmented_cte()}
    SELECT doc_id,
           nfc_normalize(text) <> text AS changed,
           CAST(length(text) AS BIGINT) AS chars_before,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS chars_after,
           md5(nfc_normalize(text)) AS nfc_hash
    FROM aug
    """,
)
def q_unicode_nfc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization audit over the decomposed-sequence-augmented
    corpus: which docs change under NFC, how many characters compose
    away, and the md5 of the normalized text. Non-NFC text silently
    defeats exact dedup (same grapheme, different bytes → different
    content hash), so a 100 TB pipeline normalizes before any hash is
    taken; this query both performs and verifies that step — Python's
    unicodedata NFC is value-hash-matched against DuckDB's utf8proc
    NFC on every document."""
    aug = _nfc_augment(table(spark, "documents", sf_dir))
    out = nfc_normalize_col(aug)
    return out.select(
        "doc_id",
        (F.col("nfc_text") != F.col("text")).alias("changed"),
        F.length("text").cast("bigint").alias("chars_before"),
        F.length("nfc_text").cast("bigint").alias("chars_after"),
        F.md5("nfc_text").alias("nfc_hash"),
    )


# ---------------------------------------------------------------------------
# URL / domain crawl audit
# ---------------------------------------------------------------------------

_URL_DOMAIN_RE = r"https?://([a-z0-9.-]+)"


def _url_augmented_cte() -> str:
    return """
    aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 4 = 0
                       THEN ' see https://docs.example.com/p/'
                            || CAST(doc_id AS VARCHAR) ELSE '' END
               || CASE WHEN doc_id % 6 = 0
                       THEN ' via http://cdn' || CAST(doc_id % 5 AS VARCHAR)
                            || '.assets.net/x' ELSE '' END
               || CASE WHEN doc_id % 9 = 0
                       THEN ' and https://docs.example.com/about'
                       ELSE '' END AS text
        FROM documents
    )"""


def _url_augment(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" see https://docs.example.com/p/"),
                    did.cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 6 == 0,
                F.concat(
                    F.lit(" via http://cdn"),
                    (did % 5).cast("string"),
                    F.lit(".assets.net/x"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 9 == 0, F.lit(" and https://docs.example.com/about")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "url_domain_stats",
    oracle=f"""
    WITH {_url_augmented_cte()},
    hits AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '{_URL_DOMAIN_RE}', 1))
                   AS domain
        FROM aug
    )
    SELECT domain,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_urls
    FROM hits GROUP BY domain
    ORDER BY n_urls DESC, domain
    """,
)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL census over the URL-augmented corpus — the
    crawl-source audit behind blocklist/robots policy and per-domain
    rate caps. Domains extract in-row (regexp_extract_all group 1,
    JVM codegen), explode narrow, and aggregate on the domain key:
    the only shuffle carries (domain, doc_id) pairs, and the output
    is domain-cardinality (web-scale: millions of rows from 100 TB
    of text — a driver-safe census, never a per-URL table)."""
    aug = _url_augment(table(spark, "documents", sf_dir))
    hits = aug.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(_URL_DOMAIN_RE), F.lit(1))
        ).alias("domain"),
    )
    return (
        hits.groupBy("domain")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_urls"),
        )
        .orderBy(F.desc("n_urls"), F.asc("domain"))
    )


# the domain blocklist: a TABLE (at crawl scale it's millions of rows
# — spam/SEO/adult domain lists), tiny next to the corpus, so it
# broadcasts; never an in-row literal array
_BLOCKED_DOMAINS = ("cdn1.assets.net", "cdn3.assets.net")


@register(
    "blocklist_filter_stats",
    oracle=f"""
    WITH {_url_augmented_cte()},
    blocklist(domain) AS (VALUES {", ".join(
        f"('{d}')" for d in _BLOCKED_DOMAINS
    )}),
    hits AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '{_URL_DOMAIN_RE}', 1))
                   AS domain
        FROM aug
    ),
    blocked AS (
        SELECT DISTINCT h.doc_id
        FROM hits h JOIN blocklist b ON h.domain = b.domain
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(bl.doc_id) AS BIGINT) AS n_blocked,
           CAST(count(*) - count(bl.doc_id) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN blocked bl ON d.doc_id = bl.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def q_blocklist_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering — the policy step the URL census
    (url_domain_stats) feeds: a document is dropped when ANY of its
    URLs points at a blocklisted domain. Per-language kept/blocked
    counts are the curation-funnel row this stage contributes.

    Scale shape: the blocklist is a broadcast table (millions of
    domains ≪ the corpus), probed by an equi-join on the exploded
    in-row domain extraction; the blocked-doc set collapses to
    DISTINCT doc_id before the corpus-side left join, so the only
    corpus-keyed shuffle carries doc ids, never text."""
    docs = table(spark, "documents", sf_dir)
    aug = _url_augment(docs)
    blocklist = docs.sparkSession.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    hits = aug.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(_URL_DOMAIN_RE), F.lit(1))
        ).alias("domain"),
    )
    blocked = (
        hits.join(F.broadcast(blocklist), "domain", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("blocked", F.lit(1))
    )
    return (
        docs.select("doc_id", "lang")
        .join(blocked, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("blocked").alias("n_blocked"),
            (F.count(F.lit(1)) - F.count("blocked")).alias("n_kept"),
        )
        .orderBy("lang")
    )


def _streaming_html_oracle() -> str:
    from mpi_word_count_spark.sources.synthetic import sql_synth_corpus_cte

    return f"""
    WITH {sql_synth_corpus_cte(1000, "synth")},
    docs AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY i) AS text
        FROM synth_words GROUP BY doc_id
    ),
    {_html_augmented_cte("docs")},
    ex AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(text,
                        '{_SCRIPT_RE}', ' ', 'g'),
                        '{_STYLE_RE}', ' ', 'g'),
                        '{_TAG_RE}', ' ', 'g'),
                        '{_ENTITY_RE}', ' ', 'g'),
                        '{_WS_RE}', ' ', 'g')) AS extracted
        FROM aug
    )
    SELECT doc_id,
           (doc_id % 2 = 0) AS had_markup,
           CAST(length(extracted) AS BIGINT) AS extracted_len,
           md5(extracted) AS extracted_hash
    FROM ex
    """


@register("streaming_html_extract", oracle=_streaming_html_oracle())
def q_streaming_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING web extraction: the synth connector emits documents
    in 5 micro-batches, each page is markup-wrapped (the deterministic
    doc_id-derived shell — the crawl-ingest simulation) and stripped
    ON ARRIVAL by the same strip_html expression chain the batch query
    uses — append mode, zero streaming state, no shuffle. The oracle
    regenerates the corpus, wraps, and strips in batch SQL, so
    batch/stream parity of the extraction path is value-hash-verified:
    the same operator expression serves both modes, the property that
    lets one curation codebase run backfill and ingest."""
    from mpi_word_count_spark.sources.synthetic import register_synth_source
    from mpi_word_count_spark.streaming.core import run_to_completion

    register_synth_source(spark)
    stream = (
        spark.readStream.format("synthcorpus")
        .option("n_docs", 1000)
        .option("seed", "synth")
        .option("batch_docs", 200)
        .load()
    )
    ex = strip_html(_html_augment(stream))
    out = ex.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("had_markup"),
        F.length("extracted").cast("bigint").alias("extracted_len"),
        F.md5("extracted").alias("extracted_hash"),
    )
    return run_to_completion(out, "append")
