"""Source/sink connector roundtrips + bucketed-join shuffle
elimination (SCALE.md evidence)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from mpi_word_count_spark.operators.layout import _SPREAD_ROUNDS
from mpi_word_count_spark.tables import table
from tests.conftest import SF_DIR


def py_morton(x: int, y: int) -> int:
    """Python reference of morton_key_sql."""

    def spread(v: int) -> int:
        v &= 0xFFFF
        for shift, mask in _SPREAD_ROUNDS:
            v = (v | (v << shift)) & mask
        return v

    return spread(x) | (spread(y) << 1)


def _roundtrip(spark, df, tmp_path, fmt, **read_opts):
    path = str(tmp_path / f"rt_{fmt}")
    df.write.mode("overwrite").format(fmt).save(path)
    return spark.read.format(fmt).options(**read_opts).schema(df.schema).load(path)


def test_csv_json_orc_parquet_roundtrip(spark, tmp_path):
    src = table(spark, "nation", SF_DIR)
    want = sorted(map(tuple, src.collect()))
    for fmt, opts in [
        ("parquet", {}),
        ("orc", {}),
        ("json", {}),
        ("csv", {"header": "true"}),
    ]:
        if fmt == "csv":
            path = str(tmp_path / "rt_csv")
            src.write.mode("overwrite").option("header", True).csv(path)
            got = spark.read.schema(src.schema).option("header", True).csv(path)
        else:
            got = _roundtrip(spark, src, tmp_path, fmt)
        assert sorted(map(tuple, got.collect())) == want, fmt


def test_partition_pruning(spark, tmp_path):
    """The partitioned-events layout must prune non-matching
    event_type directories at planning time: the scan's
    PartitionFilters carry the predicate and only 2 of 5 partition
    values survive."""
    ev = table(spark, "events", SF_DIR)
    path = str(tmp_path / "ev_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1][:300]
    # behavioral proof of directory-level pruning: corrupt every file
    # in a non-matching partition — the filtered scan must never open
    # them, while an unfiltered scan fails on the same layout
    import pathlib

    for f in pathlib.Path(path, "event_type=error").glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    assert back.count() > 0  # pruned scan unharmed
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(path).count()  # full scan hits the corruption


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    orders = table(spark, "orders", SF_DIR)
    lineitem = table(spark, "lineitem", SF_DIR)
    # external tables: warehouse.dir is static, so give each an explicit path
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", str(tmp_path / "orders_b")).saveAsTable("orders_b")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).option("path", str(tmp_path / "lineitem_b")).saveAsTable("lineitem_b")
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        # co-located bucketed join: no exchange feeds the SortMergeJoin
        assert "SortMergeJoin" in plan
        join_part = plan[: plan.index("SortMergeJoin")]
        assert "Exchange hashpartitioning(l_orderkey" not in plan.replace(join_part, "")
        n_exchanges = plan.count("Exchange")
        assert n_exchanges <= 1, plan  # only the final groupBy exchange
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_synth_datasource_partitions_and_determinism(spark):
    from mpi_word_count_spark.sources.synthetic import (
        SynthCorpusReader,
        register_synth_source,
        synth_doc,
    )

    # planner: ranges are disjoint and cover [0, n_docs)
    reader = SynthCorpusReader({"n_docs": "103", "partitions": "8"})
    parts = reader.partitions()
    assert len(parts) == 8
    covered = [i for p in parts for i in range(p.start, p.end)]
    assert covered == list(range(103))

    register_synth_source(spark)
    df = (
        spark.read.format("synthcorpus")
        .option("n_docs", 103)
        .option("seed", "t")
        .option("partitions", 8)
        .load()
    )
    rows = {r["doc_id"]: r["text"] for r in df.collect()}
    assert len(rows) == 103
    # executor-side generation matches the driver-side replica
    for doc_id in (0, 50, 102):
        assert rows[doc_id] == synth_doc(doc_id, "t")
    assert df.rdd.getNumPartitions() == 8


def test_salted_agg_matches_plain(spark):
    from mpi_word_count_spark.operators.skew import salted_count

    df = spark.createDataFrame(
        [("a", 1.0)] * 50 + [("b", 2.0)] * 3, "k string, v double"
    )
    plain = {(r["k"], r["count"]) for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("count")).collect()}
    salted = {(r["k"], r["count"]) for r in salted_count(df, ["k"]).collect()}
    assert salted == plain == {("a", 50), ("b", 3)}


def test_salted_agg_under_heavy_skew(spark):
    """Skew stress: 2M rows where ONE key holds 50% of the data (the
    Zipfian-head shape of a web-corpus word count). Salting must (a)
    stay correct at this size and (b) structurally spread the hot key:
    the phase-1 exchange partitions on (key, salt), so the hot key's
    rows land on up to salt_buckets reducers instead of one."""
    from mpi_word_count_spark.operators.skew import salted_count

    n = 2_000_000
    df = spark.range(n).selectExpr(
        # id%2==0 -> the single hot key; else 1000 cold keys
        "CASE WHEN id % 2 = 0 THEN 'hot' ELSE concat('k', id % 1000) END AS k"
    )
    got = {(r["k"], r["count"]) for r in salted_count(df, ["k"]).collect()}
    assert ("hot", n // 2) in got
    assert len(got) == 501  # hot + 500 cold (odd ids -> odd id%1000 only)
    total = sum(c for _, c in got)
    assert total == n
    # structural claim: first exchange carries the salt column
    plan = salted_count(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan and "_salt" in plan


def test_morton_key_three_way_parity(spark):
    """zkey must be bit-identical in Spark SQL, DuckDB, and the Python
    reference — the property that makes the layout oracle-verifiable."""
    import duckdb

    from mpi_word_count_spark.operators.layout import morton_key_sql

    cases = [(0, 0), (1, 0), (0, 1), (255, 255), (170, 85), (65535, 65535), (12345, 54321)]
    sql = morton_key_sql("x", "y")
    con = duckdb.connect()
    for x, y in cases:
        duck = con.execute(
            f"SELECT {sql} FROM (SELECT ?::BIGINT x, ?::BIGINT y)", [x, y]
        ).fetchone()[0]
        assert duck == py_morton(x, y), (x, y)
    df = spark.createDataFrame(cases, "x long, y long")
    for r in df.selectExpr("x", "y", f"{sql} AS z").collect():
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_aligned_box_is_contiguous_range():
    """The load-bearing locality property: an aligned 2^k × 2^k box is
    EXACTLY one contiguous zkey range — a range scan over the sorted
    layout touches nothing outside the box."""
    for x0, y0, k in [(0, 0, 4), (16, 32, 4), (48, 16, 4), (8, 8, 3), (128, 64, 5)]:
        side = 1 << k
        keys = sorted(
            py_morton(x, y)
            for x in range(x0, x0 + side)
            for y in range(y0, y0 + side)
        )
        assert keys == list(range(keys[0], keys[0] + side * side)), (x0, y0, k)


def test_zorder_partition_pruning_on_2d_box(spark, tmp_path):
    """End to end: write events partitioned by zbucket, query a 2-D
    box via the bucket IN-list enumerated over the box's tiles (bucket
    ids are tiles because morton(x, y) >> 2k == morton(x >> k, y >> k))
    — the scan must carry zbucket PartitionFilters (directory pruning)
    and return exactly the rows a full-scan filter returns."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators.layout import zorder_keys
    from mpi_word_count_spark.tables import table
    from tests.conftest import SF_DIR

    ev = table(spark, "events", SF_DIR).select(
        "event_id",
        F.expr("CAST(user_id % 256 AS BIGINT)").alias("xb"),
        F.expr("CAST(dayofyear(ts) % 256 AS BIGINT)").alias("yb"),
    )
    laid = zorder_keys(ev, "xb", "yb", tile_bits=4)
    path = str(tmp_path / "zorder")
    laid.write.partitionBy("zbucket").mode("overwrite").parquet(path)

    # an UNALIGNED box spanning several tiles (fixture domain at
    # sf0.001: user buckets 0-14, days 1-30)
    x_lo, x_hi, y_lo, y_hi = 3, 12, 5, 25
    buckets = [
        py_morton(xt, yt)
        for xt in range(x_lo >> 4, (x_hi >> 4) + 1)
        for yt in range(y_lo >> 4, (y_hi >> 4) + 1)
    ]
    box = (
        F.col("xb").between(x_lo, x_hi) & F.col("yb").between(y_lo, y_hi)
    )
    pruned = (
        spark.read.parquet(path)
        .filter(F.col("zbucket").isin(buckets))
        .filter(box)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("zbucket" in ln for ln in pf), plan

    expect = sorted(r["event_id"] for r in ev.filter(box).collect())
    got = sorted(r["event_id"] for r in pruned.collect())
    assert got == expect and len(got) > 0


def test_salted_join_matches_plain_join_under_skew(spark):
    """salted_join must be row-identical to the plain join (salting is
    pure plumbing) and must spread a hot key: 200k facts where one key
    holds half the rows, dim of 1001 keys."""
    from mpi_word_count_spark.operators.skew import salted_join

    n = 200_000
    fact = spark.range(n).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 0 ELSE 1 + id % 1000 END AS fk",
        "id AS payload",
    )
    dim = spark.range(1001).selectExpr("id AS dk", "concat('d', id) AS label")
    plain = fact.join(dim, fact["fk"] == dim["dk"]).select("fk", "payload", "label")
    salted = salted_join(fact, dim, "fk", "dk", salt_buckets=8).select(
        "fk", "payload", "label"
    )
    assert salted.count() == plain.count() == n
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    # structural claim: the fact-side exchange carries (key, salt)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_orc_roundtrip_keeps_pushdown_and_pruning(spark):
    """The orc_roundtrip query's read-back scan must keep columnar
    privileges: the lang predicate pushed into the ORC reader and the
    projection pruned to the 2 columns the aggregate needs."""
    from mpi_word_count_spark.registry import queries

    df = queries()["orc_roundtrip"](spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan and "lang" in scan[0], plan
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines and "n_chars" in schema_lines[0], plan
    assert "doc_id" not in schema_lines[0] and "source" not in schema_lines[0]


def test_compaction_reduces_files_losslessly(spark):
    """Compaction must (a) start from a genuinely fragmented layout,
    (b) produce exactly the planned ceil(rows/cap) files, and (c)
    lose no rows in the rewrite."""
    import os

    from mpi_word_count_spark.queries.wordcount_queries import _scratch_path
    from mpi_word_count_spark.registry import queries

    got = {
        r["event_type"]: (r["n_rows"], r["files_after"])
        for r in queries()["compaction_manifest"](spark, SF_DIR).collect()
    }
    messy = _scratch_path(SF_DIR, "events_messy.parquet")
    compacted = _scratch_path(SF_DIR, "events_compacted.parquet")
    total_after = 0
    for etype, (n_rows, files_after) in got.items():
        part = f"event_type={etype}"
        before = sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(messy, part))
        )
        after = sum(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(compacted, part))
        )
        assert after == files_after == -(-n_rows // 10000)
        assert before > after, (etype, before, after)
        total_after += n_rows
    # lossless: compacted partitions re-read to the source row count
    back = spark.read.option("basePath", compacted).parquet(compacted)
    assert back.count() == total_after
    src = table(spark, "events", SF_DIR)
    assert src.count() == total_after


def test_compaction_unescapes_hive_partition_values(spark, tmp_path):
    """Partition values with escaped chars and NULLs must come back as
    logical values in the manifest, not directory-name encodings."""
    from mpi_word_count_spark.operators.layout import compact_partitions

    df = spark.createDataFrame(
        [(i, "add to cart" if i % 2 else None) for i in range(40)],
        "id bigint, etype string",
    )
    src_dir = str(tmp_path / "messy")
    df.repartition(4).write.partitionBy("etype").parquet(src_dir)
    manifest = compact_partitions(
        spark, src_dir, str(tmp_path / "compact"), "etype", rows_per_file=100
    )
    assert sorted(manifest, key=lambda m: m[0] or "") == [
        (None, 20, 4, 1),
        ("add to cart", 20, 4, 1),
    ]


def test_binaryfile_source_feeds_media_kernels(spark, tmp_path):
    """Spark's binaryFile source — the ingest path for real media
    directories — must feed the multimodal kernels unchanged: read
    raw files as (path, content), adapt to the media schema, and get
    the same dHash as hashing the bytes directly."""
    from mpi_word_count_spark.operators.multimodal import phash_media

    payloads = {f"doc{i}.bin": bytes(range(i, i + 65)) for i in range(3)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    raw = spark.read.format("binaryFile").load(str(tmp_path))
    media = raw.select(
        F.regexp_extract(F.col("path"), r"doc(\d+)\.bin", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("media"),
    )
    got = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in phash_media(media).collect()
    }
    direct = spark.createDataFrame(
        [(i, payloads[f"doc{i}.bin"]) for i in range(3)],
        "media_id bigint, media binary",
    )
    want = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in phash_media(direct).collect()
    }
    assert got == want and len(got) == 3


def test_manifest_sink_two_phase_commit(spark, tmp_path):
    """The writer's commit protocol: per-task unique files, one atomic
    manifest naming exactly the committed files; stray files (failed
    attempts, concurrent writers) stay invisible to manifest-resolved
    reads; the manifest's row accounting matches reality."""
    import json
    import os

    from mpi_word_count_spark.sources.manifest_sink import (
        JSONL_MANIFEST,
        read_manifest,
        read_manifest_jsonl,
        register_manifest_sink,
    )
    from mpi_word_count_spark.tables import table
    from tests.conftest import SF_DIR

    register_manifest_sink(spark)
    docs = table(spark, "documents", SF_DIR).select("doc_id", "lang")
    path = str(tmp_path / "msink")
    docs.repartition(4).write.format("manifestsink").option(
        "path", path
    ).mode("append").save()

    m = read_manifest(path)
    assert m["total_rows"] == docs.count()
    assert len(m["files"]) == 4
    # every manifest entry exists on disk with the counted rows
    for f in m["files"]:
        full = os.path.join(path, f["file"])
        with open(full, encoding="utf-8") as fh:
            lines = fh.readlines()
        assert len(lines) == f["rows"]
        json.loads(lines[0])  # valid JSONL

    # a stray file from a failed attempt must never leak into reads
    with open(os.path.join(path, "part-00000-attempt-999.jsonl"), "w") as fh:
        fh.write('{"doc_id": -1, "lang": "xx"}\n')
    back = read_manifest_jsonl(spark, path, "doc_id BIGINT, lang STRING")
    assert back.count() == docs.count()
    assert back.filter("doc_id = -1").count() == 0

    # read-back content equals the source exactly
    src = {(r["doc_id"], r["lang"]) for r in docs.collect()}
    got = {(r["doc_id"], r["lang"]) for r in back.collect()}
    assert got == src
    assert os.path.exists(os.path.join(path, JSONL_MANIFEST))


def test_manifest_time_travel_and_vacuum(spark, tmp_path):
    """Snapshot isolation: v1 is immutable while v2 commits, and a file
    no manifest references (a planted orphan from a failed attempt,
    vacuum fodder) is invisible to every snapshot."""
    from mpi_word_count_spark.sources.manifest_sink import (
        read_manifest,
        read_manifest_jsonl,
        register_manifest_sink,
    )
    from mpi_word_count_spark.tables import table
    from tests.conftest import SF_DIR

    register_manifest_sink(spark)
    docs = table(spark, "documents", SF_DIR).select("doc_id")
    path = str(tmp_path / "tt")
    docs.filter("doc_id % 2 = 0").write.format("manifestsink").option(
        "path", path
    ).mode("append").save()
    v1 = read_manifest_jsonl(spark, path, "doc_id BIGINT", version=1).count()
    docs.filter("doc_id % 2 = 1").write.format("manifestsink").option(
        "path", path
    ).mode("append").save()
    # v1 unchanged after the second commit (snapshot isolation)
    assert (
        read_manifest_jsonl(spark, path, "doc_id BIGINT", version=1).count()
        == v1
    )
    assert (
        read_manifest_jsonl(spark, path, "doc_id BIGINT", version=2).count()
        == docs.count()
    )
    assert read_manifest(path)["version"] == 2

    # orphan from a failed attempt: on disk, in no manifest, so no
    # snapshot sees its row
    orphan = os.path.join(path, "part-00000-attempt-777.jsonl")
    with open(orphan, "w") as fh:
        fh.write('{"doc_id": -1}\n')
    for version, want in ((1, v1), (2, docs.count())):
        snap = read_manifest_jsonl(spark, path, "doc_id BIGINT", version=version)
        assert snap.count() == want
        assert snap.filter("doc_id = -1").count() == 0


def test_manifest_sink_replayed_batch_is_idempotent(spark, tmp_path):
    """The streaming exactly-once contract: committing the SAME
    batch_id twice (sink committed, checkpoint WAL lost — Spark
    replays the batch) must not change the snapshot; the replay's
    files stay on disk as vacuum fodder, never data."""
    from mpi_word_count_spark.sources.manifest_sink import (
        read_manifest,
        read_manifest_jsonl,
        register_manifest_sink,
    )
    from mpi_word_count_spark.tables import table
    from tests.conftest import SF_DIR

    register_manifest_sink(spark)
    docs = table(spark, "documents", SF_DIR).select("doc_id")
    path = str(tmp_path / "replay")

    def commit_batch(df, bid):
        df.write.format("manifestsink").option("path", path).option(
            "batch_id", bid
        ).mode("append").save()

    commit_batch(docs.filter("doc_id < 100"), 0)
    commit_batch(docs.filter("doc_id >= 100"), 1)
    m1 = read_manifest(path)
    n1 = read_manifest_jsonl(spark, path, "doc_id BIGINT").count()
    # replay batch 1 (same batch_id): commit must no-op
    commit_batch(docs.filter("doc_id >= 100"), 1)
    m2 = read_manifest(path)
    assert m2 == m1  # version, files, totals all unchanged
    assert read_manifest_jsonl(spark, path, "doc_id BIGINT").count() == n1
    # the replay's data files exist on disk but only as vacuum fodder
    on_disk = {f for f in os.listdir(path) if f.endswith(".jsonl")}
    assert on_disk > {f["file"] for f in m2["files"]}
