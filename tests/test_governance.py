"""Governance/web-extraction family: erasure cascade, HTML strip,
NFC normalization, URL census — behavior on planted fixtures plus the
plan properties SCALE.md-style claims rest on."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpi_word_count_spark.queries.governance_queries import (
    _ERASURE_MOD,
    q_html_boilerplate_strip,
    q_unicode_nfc_stats,
    q_url_domain_stats,
    q_user_erasure_audit,
    strip_html,
)
from tests.conftest import SF_DIR


def test_erasure_audit_counts_consistent(spark):
    rows = {r["table_name"]: r for r in q_user_erasure_audit(spark, SF_DIR).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert r["rows_after"] == r["rows_before"] - r["rows_erased"]
        assert r["orphans_after"] == 0
    # non-vacuous: the request queue actually erases rows in every table
    assert rows["customer"]["rows_erased"] > 0
    assert rows["orders"]["rows_erased"] > 0
    assert rows["lineitem"]["rows_erased"] > 0


def post_delete_orphans(
    customer_after: DataFrame,
    orders_after: DataFrame,
    lineitem_after: DataFrame,
    req: DataFrame,
) -> DataFrame:
    """Independent post-state audit: given the tables AS MATERIALIZED
    after an (externally executed, possibly buggy) erasure cascade and
    the request keys, count surviving rows that still reference an
    erased entity. The registered query's orphan columns verify the
    delete-and-audit-in-one-plan invariant inside one plan; this probe
    checks the same invariant against rewritten tables, and must catch
    a cascade that deleted customers but missed their orders.
    Request keys broadcast; each table is probed with one semi join."""
    o_orphans = orders_after.join(
        F.broadcast(req),
        orders_after.o_custkey == req.c_custkey,
        "left_semi",
    )
    # lineitems whose parent order no longer exists (the cascade
    # dropped the order but left the lines)
    l_orphans = lineitem_after.join(
        orders_after.select("o_orderkey"),
        lineitem_after.l_orderkey == orders_after.o_orderkey,
        "left_anti",
    )
    c_orphans = customer_after.join(
        F.broadcast(req),
        customer_after.c_custkey == req.c_custkey,
        "left_semi",
    )
    return (
        c_orphans.agg(F.count(F.lit(1)).alias("orphans"))
        .select(F.lit("customer").alias("table_name"), "orphans")
        .unionByName(
            l_orphans.agg(F.count(F.lit(1)).alias("orphans")).select(
                F.lit("lineitem").alias("table_name"), "orphans"
            )
        )
        .unionByName(
            o_orphans.agg(F.count(F.lit(1)).alias("orphans")).select(
                F.lit("orders").alias("table_name"), "orphans"
            )
        )
        .orderBy("table_name")
    )


def test_post_delete_orphans_catches_broken_cascade(spark):
    """A cascade that erased customers but MISSED their orders (and
    dropped orders without their lineitems) must show up as non-zero
    orphan counts; the correct cascade must audit clean."""
    c = spark.createDataFrame(
        [(i, f"c{i}") for i in range(1, 8)], "c_custkey long, c_name string"
    )
    o = spark.createDataFrame(
        [(10 * i, i) for i in range(1, 8)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(10 * i, 1) for i in range(1, 8)], "l_orderkey long, l_linenumber long"
    )
    req = spark.createDataFrame([(2,), (5,)], "c_custkey long")

    # correct cascade: all three tables dropped consistently
    c_after = c.join(req, "c_custkey", "left_anti")
    o_after = o.join(req, o.o_custkey == req.c_custkey, "left_anti")
    l_after = li.join(
        o.join(req, o.o_custkey == req.c_custkey, "left_semi").select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    clean = {
        r["table_name"]: r["orphans"]
        for r in post_delete_orphans(c_after, o_after, l_after, req).collect()
    }
    assert clean == {"customer": 0, "orders": 0, "lineitem": 0}

    # broken cascade: customers erased, orders left behind entirely,
    # and one order dropped without its lineitem
    broken = {
        r["table_name"]: r["orphans"]
        for r in post_delete_orphans(
            c_after, o.filter("o_orderkey <> 30"), li, req
        ).collect()
    }
    assert broken["orders"] == 2  # orders of custkeys 2 and 5 survived
    assert broken["lineitem"] == 1  # line of dropped order 30 orphaned
    assert broken["customer"] == 0


def test_erasure_requests_broadcast(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_user_erasure_audit(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_html_strip_behavior(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                '<html><head><script a="b">var x;\nmulti();</script>'
                "<style>.a{b:c;}</style></head>"
                "<body><p>keep&nbsp;this</p>&copy;</body></html>",
            ),
            (2, "plain text stays"),
            (3, "<p>a</p><p>b</p>"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["extracted"] for r in strip_html(df).collect()}
    # script/style contents vanish; entities drop; whitespace collapses
    assert got[1] == "keep this"
    assert got[2] == "plain text stays"
    assert got[3] == "a b"


def test_html_strip_plan_is_exchange_free(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_html_boilerplate_strip(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan


def test_html_strip_markup_ratio_nonvacuous(spark):
    rows = q_html_boilerplate_strip(spark, SF_DIR).collect()
    wrapped = [r for r in rows if r["had_markup"]]
    plain = [r for r in rows if not r["had_markup"]]
    assert wrapped and plain
    assert all(r["markup_ratio"] > 0 for r in wrapped)
    assert all(r["markup_ratio"] == 0 for r in plain)


def test_nfc_changes_planted_docs_only(spark):
    rows = q_unicode_nfc_stats(spark, SF_DIR).collect()
    for r in rows:
        planted = r["doc_id"] % 3 == 0 or r["doc_id"] % 5 == 0
        assert r["changed"] == planted, r["doc_id"]
        # each combining mark composes away exactly one character
        n_marks = (r["doc_id"] % 3 == 0) + (r["doc_id"] % 5 == 0)
        assert r["chars_before"] - r["chars_after"] == n_marks
    assert any(r["changed"] for r in rows)


def test_url_domain_census(spark):
    rows = {r["domain"]: r for r in q_url_domain_stats(spark, SF_DIR).collect()}
    assert "docs.example.com" in rows
    # the %6 planting spreads over cdn{0..4}.assets.net via %5
    cdns = [d for d in rows if d.endswith(".assets.net")]
    assert len(cdns) >= 2
    ex = rows["docs.example.com"]
    # /about repeats the domain inside the same doc on doc_id % 36 == 0
    assert ex["n_urls"] >= ex["n_docs"]


def test_erasure_mod_keeps_request_table_small(spark):
    # the audit's broadcast claim rests on the request queue being a
    # small fraction of the customer dimension
    from mpi_word_count_spark.tables import table

    c = table(spark, "customer", SF_DIR)
    n = c.count()
    n_req = c.filter(F.col("c_custkey") % _ERASURE_MOD == 0).count()
    assert 0 < n_req < n * 0.05


def test_blocklist_filter_nonvacuous(spark):
    from mpi_word_count_spark.queries.governance_queries import (
        q_blocklist_filter_stats,
    )

    rows = q_blocklist_filter_stats(spark, SF_DIR).collect()
    assert rows
    total_blocked = sum(r["n_blocked"] for r in rows)
    total_kept = sum(r["n_kept"] for r in rows)
    assert total_blocked > 0 and total_kept > 0
    for r in rows:
        assert r["n_docs"] == r["n_blocked"] + r["n_kept"]


def test_blocklist_broadcasts_and_never_shuffles_text(spark):
    import contextlib
    import io

    from mpi_word_count_spark.queries.governance_queries import (
        q_blocklist_filter_stats,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_blocklist_filter_stats(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no exchange in the plan may carry the text column: the corpus-
    # keyed shuffles are doc_id-only
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_streaming_html_extract_matches_batch_path(spark):
    """The stream must produce EXACTLY what the batch expression chain
    produces over the same synth corpus — batch/stream parity of the
    extraction operator itself, independent of the SQL oracle."""
    from mpi_word_count_spark.queries.governance_queries import (
        _html_augment,
        q_streaming_html_extract,
        strip_html,
    )
    from mpi_word_count_spark.sources.synthetic import register_synth_source

    got = {
        r["doc_id"]: (r["had_markup"], r["extracted_len"], r["extracted_hash"])
        for r in q_streaming_html_extract(spark, SF_DIR).collect()
    }
    register_synth_source(spark)
    batch = (
        spark.read.format("synthcorpus")
        .option("n_docs", 1000)
        .option("seed", "synth")
        .load()
    )
    ex = strip_html(_html_augment(batch))
    want = {
        r["doc_id"]: (
            r["doc_id"] % 2 == 0,
            len(r["extracted"]),
            None,
        )
        for r in ex.collect()
    }
    assert set(got) == set(want) and len(got) == 1000
    for did, (markup, length, _) in want.items():
        assert got[did][0] == markup
        assert got[did][1] == length


def _model_strip_html(text: str) -> str:
    """Pure-Python model of the strip_html regex chain (same patterns,
    Python re — a third regex engine beside Java and RE2, so a
    three-way agreement pins the pattern semantics, not an engine
    quirk)."""
    import re

    out = re.sub(r"(?is)<script[^>]*>.*?</script>", " ", text)
    out = re.sub(r"(?is)<style[^>]*>.*?</style>", " ", out)
    out = re.sub(r"<[^>]+>", " ", out)
    out = re.sub(r"&[a-z]+;", " ", out)
    return re.sub(r"\s+", " ", out).strip()


def test_strip_html_matches_python_model_on_random_markup(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # fragments biased toward pathological nesting/unterminated tags
    frag = st.sampled_from(
        [
            "plain words here",
            "<p>", "</p>", "<script>", "</script>", "<script src='x'>",
            "<style>", "</style>", "a<b", "b>c", "&copy;", "&nbsp;",
            "&notanentity", "< notatag >", "<SCRIPT>", "x\ny",
            "<div class='a b'>", "<!-- comment -->", "<br/>", "&amp;",
        ]
    )

    @settings(max_examples=12, deadline=None)
    @given(parts=st.lists(frag, min_size=1, max_size=12))
    def _inner(parts):
        texts = ["".join(parts)]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["extracted"] for r in strip_html(df).collect()}
        want = {i: _model_strip_html(t) for i, t in enumerate(texts)}
        assert got == want

    _inner()
