"""Pull/EQL projection, text-search, q-subqueries, get-attr, streaming
ingest (SURVEY.md §3.2, §2.10, §2.9)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crux_spark import Catalog
from crux_spark.datalog import q
from crux_spark.datalog.pull import pull
from crux_spark.functions.text_search import (
    build_text_index,
    text_search,
    wildcard_text_search,
)


@pytest.fixture(scope="module")
def people_cat(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("age", T.LongType()),
            T.StructField("follows", T.ArrayType(T.StringType())),
        ]
    )
    data = [
        ("a", "Ann", 30, ["b", "c"]),
        ("b", "Bob", 40, ["c"]),
        ("c", "Cid", 50, []),
    ]
    cat = Catalog(spark)
    cat.add_documents("people", spark.createDataFrame(data, schema), id_col="id")
    return cat


def test_pull_plain_attrs(people_cat, spark):
    base = spark.createDataFrame([("a",), ("b",)], ["e"])
    out = pull(people_cat, base, "e", "people", [":name", ":age"]).collect()
    by_id = {r.e: r.pull.asDict() for r in out}
    assert by_id["a"] == {"name": "Ann", "age": 30}
    assert by_id["b"] == {"name": "Bob", "age": 40}


def test_pull_wildcard(people_cat, spark):
    base = spark.createDataFrame([("c",)], ["e"])
    out = pull(people_cat, base, "e", "people", ["*"]).collect()
    d = out[0].pull.asDict()
    assert d["name"] == "Cid" and d["age"] == 50


def test_pull_forward_join(people_cat, spark):
    base = spark.createDataFrame([("a",)], ["e"])
    out = pull(
        people_cat,
        base,
        "e",
        "people",
        [":name", {":follows": [":name"]}],
        joins={":follows": "people"},
    ).collect()
    d = out[0].pull
    names = sorted(s["name"] for s in d["follows"])
    assert d["name"] == "Ann" and names == ["Bob", "Cid"]


def test_pull_reverse_join(people_cat, spark):
    # who follows c?
    base = spark.createDataFrame([("c",)], ["e"])
    out = pull(
        people_cat,
        base,
        "e",
        "people",
        [":name", {":_follows": [":name"]}],
        joins={":follows": "people"},
    ).collect()
    d = out[0].pull
    names = sorted(s["name"] for s in d["_follows"])
    assert names == ["Ann", "Bob"]


def test_pull_bounded_recursion(people_cat, spark):
    base = spark.createDataFrame([("a",)], ["e"])
    out = pull(
        people_cat,
        base,
        "e",
        "people",
        [":name", {":follows": 2}],
        joins={":follows": "people"},
    ).collect()
    d = out[0].pull
    level1 = {s["name"]: s for s in d["follows"]}
    assert set(level1) == {"Bob", "Cid"}
    bob_l2 = [s["name"] for s in (level1["Bob"]["follows"] or [])]
    assert bob_l2 == ["Cid"]


def test_text_search_scoring(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark engine for big data"),
            (2, "spark spark spark tuning"),
            (3, "cooking recipes for dinner"),
        ],
        ["doc_id", "body"],
    )
    postings, dfreq, n = build_text_index(docs, "doc_id", "body")
    hits = text_search(postings, dfreq, n, "spark").collect()
    assert [h.eid for h in hits] == [2, 1]  # tf ranks doc 2 first
    assert hits[0].score > hits[1].score
    wild = wildcard_text_search(postings, dfreq, n, "cook*").collect()
    assert [h.eid for h in wild] == [3]


def test_text_search_in_datalog(people_cat, spark):
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma"), ("d2", "beta beta delta"), ("d3", "epsilon")],
        ["id", "body"],
    )
    cat = Catalog(spark)
    cat.add_documents("docs", docs, id_col="id")
    res = q(
        cat,
        {
            "find": ["?e", "?score"],
            "where": [
                [["text-search", ":body", "beta"], [["?e", "?score"]]],
            ],
            "order-by": [["?score", "desc"]],
        },
    )
    rows = res.collect()
    assert [r.e for r in rows] == ["d2", "d1"]


def test_scalar_subquery_pred(catalog):
    # customers with balance above the global average (q22 shape)
    res = q(
        catalog,
        {
            "find": ["?name"],
            "where": [
                ["?c", ":c_name", "?name"],
                ["?c", ":c_acctbal", "?bal"],
                [
                    [
                        "q",
                        {
                            "find": [["avg", "?b", "a"]],
                            "where": [["?c2", ":c_acctbal", "?b"]],
                        },
                    ],
                    "?avg",
                ],
                [[">", "?bal", "?avg"]],
            ],
        },
    )
    avg = catalog.table("customer").agg(F.avg("c_acctbal")).first()[0]
    exp = (
        catalog.table("customer")
        .filter(F.col("c_acctbal") > avg)
        .select("c_name")
        .distinct()
        .count()
    )
    assert res.count() == exp


def test_get_attr_left_join(people_cat):
    # scalar binding binds the whole collection (query_test.clj:1057-60:
    # [(get-attr e :age) age] -> [21]); [?f ...] explodes to values
    res = q(
        people_cat,
        {
            "find": ["?n", "?f"],
            "where": [
                ["?p", ":name", "?n"],
                [["get-attr", "?p", ":follows"], "?f"],
            ],
        },
    )
    rows = sorted((r.n, list(r.f)) for r in res.collect())
    assert ("Ann", ["b", "c"]) in rows
    assert ("Cid", []) in rows  # empty collection kept (left join)

    res = q(
        people_cat,
        {
            "find": ["?n", "?f"],
            "where": [
                ["?p", ":name", "?n"],
                [["get-attr", "?p", ":follows"], ["?f", "..."]],
            ],
        },
    )
    rows = {(r.n, r.f) for r in res.collect()}
    assert ("Ann", "b") in rows and ("Ann", "c") in rows
    assert not any(n == "Cid" for n, _ in rows)  # no values -> no rows


def test_streaming_tx_ingest(spark, tmp_path):
    from crux_spark.streaming.ingest import TxLogStream, write_tx_log

    log_dir = str(tmp_path / "txlog")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2023, 1, 1)
    write_tx_log(
        spark,
        log_dir,
        [
            (1, [("put", {"id": "s1", "v": 1}, t0)]),
            (2, [("put", {"id": "s2", "v": 2}, t0)]),
        ],
    )
    seen = []
    stream = TxLogStream(spark, log_dir)
    stream.listen(lambda epoch, batch: seen.append(epoch))
    sq = stream.start(ckpt)
    sq.awaitTermination(60)
    assert stream.store.entity("s1", valid_time=dt.datetime(2023, 1, 2))["v"] == 1
    assert stream.store.entity("s2", valid_time=dt.datetime(2023, 1, 2))["v"] == 2
    assert seen  # listener fired


def test_streaming_windowed_rollup(spark, tmp_path):
    from crux_spark.streaming.ingest import stream_rollup

    src = str(tmp_path / "events_src")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2023, 5, 1, 10)
    spark.createDataFrame(
        [(t0, "click", 1.0), (t0, "click", 2.0), (t0, "view", 5.0)], schema
    ).write.mode("overwrite").parquet(src)
    agg = stream_rollup(spark, src, schema, watermark="1 hour", window="1 day")
    sq = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rollup_out")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(60)
    rows = {r.event_type: (r.n, r.total) for r in spark.sql("SELECT * FROM rollup_out").collect()}
    assert rows["click"] == (2, 3.0) and rows["view"] == (1, 5.0)


def test_stream_stateful_counts(spark, tmp_path):
    from crux_spark.streaming.ingest import stream_stateful_counts

    src = str(tmp_path / "sf_src")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], schema
    ).write.mode("overwrite").parquet(src)
    out = stream_stateful_counts(spark, src, schema)
    sq = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(60)
    rows = {r.key: (r.events, r.total) for r in spark.sql("SELECT * FROM stateful_out").collect()}
    assert rows == {1: (2, 3.0), 2: (1, 5.0)}


def test_custom_aggregate_registry(catalog):
    from pyspark.sql import functions as F

    from crux_spark.datalog.aggregates import register_aggregate

    register_aggregate("geo-mean", lambda c: F.round(F.exp(F.avg(F.log(c))), 6))
    res = q(
        catalog,
        {
            "find": ["?flag", ["geo-mean", "?qty", "gm"]],
            "where": [
                ["?l", ":l_returnflag", "?flag"],
                ["?l", ":l_quantity", "?qty"],
            ],
        },
    )
    rows = res.collect()
    assert len(rows) == 3 and all(r.gm > 0 for r in rows)


def test_temporal_sql_view(spark):
    import datetime as dt

    from crux_spark.bitemporal.store import TxStore
    from crux_spark.sql import temporal_view

    store = TxStore(spark)
    t = lambda d: dt.datetime(2021, 6, d)
    store.submit_tx([("put", {"id": "a1", "balance": 100}, t(1))], tx_time=t(1))
    store.submit_tx([("put", {"id": "a1", "balance": 200}, t(10))], tx_time=t(10))
    store.commit()
    temporal_view(store, "accounts_asof", valid_time=t(5), schema="id string, balance long")
    rows = spark.sql("SELECT id, balance FROM accounts_asof").collect()
    assert [(r.id, r.balance) for r in rows] == [("a1", 100)]
    temporal_view(store, "accounts_now", valid_time=t(11), schema="id string, balance long")
    assert spark.sql("SELECT balance FROM accounts_now").first()[0] == 200


def test_ntriples_loader_and_pivot(spark, tmp_path):
    from crux_spark.sources.loaders import pivot_triples, read_ntriples

    nt = tmp_path / "data.nt"
    nt.write_text(
        '<http://ex/alice> <http://ex/name> "Alice" .\n'
        '<http://ex/alice> <http://ex/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://ex/alice> <http://ex/knows> <http://ex/bob> .\n'
        '<http://ex/bob> <http://ex/name> "Bob" .\n'
        "# a comment\n"
    )
    triples = read_ntriples(spark, str(nt))
    rows = {(r.e, r.a): (r.v, r.v_type) for r in triples.collect()}
    assert rows[("http://ex/alice", "http://ex/name")] == ("Alice", "string")
    assert rows[("http://ex/alice", "http://ex/age")] == ("30", "long")
    assert rows[("http://ex/alice", "http://ex/knows")] == ("http://ex/bob", "iri")
    wide = pivot_triples(triples)
    alice = [r for r in wide.collect() if r._id == "http://ex/alice"][0]
    assert alice.name == "Alice"


def test_eav_triples_view(spark):
    from crux_spark.sources.loaders import triples_view

    df = spark.createDataFrame(
        [("e1", "Ann", 30, ["x", "y"]), ("e2", "Bob", None, None)],
        "_id string, name string, age long, tags array<string>",
    )
    tv = triples_view(df)
    rows = {(r.e, r.a, r.pos): (r.v_type, r.v_long, r.v_string) for r in tv.collect()}
    assert rows[("e1", ":name", None)] == ("string", None, "Ann")
    assert rows[("e1", ":age", None)] == ("long", 30, None)
    assert rows[("e1", ":tags", 0)] == ("string", None, "x")
    assert rows[("e1", ":tags", 1)] == ("string", None, "y")
    assert ("e2", ":age", None) not in rows  # nulls don't emit triples


def test_bm25_ranking(spark):
    from crux_spark.functions.text_search import bm25_search, build_text_index

    docs = spark.createDataFrame(
        [
            (1, "spark engine spark core"),
            (2, "spark " + "filler " * 50),  # long doc, same tf
            (3, "unrelated content here"),
        ],
        ["doc_id", "body"],
    )
    postings, dfreq, n = build_text_index(docs, "doc_id", "body")
    hits = bm25_search(postings, dfreq, n, "spark").collect()
    assert [h.eid for h in hits] == [1, 2]  # length norm ranks short doc first
    assert hits[0].score > hits[1].score


def test_incremental_text_index_via_stream(spark, tmp_path):
    from crux_spark.functions.text_search import IncrementalTextIndex
    from crux_spark.streaming.ingest import TxLogStream, write_tx_log

    log_dir, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    t0 = dt.datetime(2023, 6, 1)
    write_tx_log(
        spark,
        log_dir,
        [
            (1, [("put", {"id": "d1", "text": "alpha beta"}, t0)]),
            (2, [("put", {"id": "d2", "text": "beta gamma"}, t0)]),
        ],
    )
    idx = IncrementalTextIndex(spark)
    stream = TxLogStream(spark, log_dir)
    stream.listen(idx.listener)
    stream.start(ckpt).awaitTermination(60)
    assert {r.eid for r in idx.search("beta").collect()} == {"d1", "d2"}
    # second batch: update d1 (drops 'alpha'), delete d2
    write_tx_log(
        spark,
        log_dir,
        [
            (3, [("put", {"id": "d1", "text": "delta only"}, dt.datetime(2023, 6, 2))]),
            (4, [("delete", "d2", dt.datetime(2023, 6, 2))]),
        ],
    )
    stream.start(ckpt).awaitTermination(60)
    assert idx.search("alpha").count() == 0      # old content gone
    assert idx.search("beta").count() == 0       # d2 deleted, d1 updated
    assert {r.eid for r in idx.search("delta").collect()} == {"d1"}


def test_optimized_layout_partition_pruning(spark, tmp_path):
    from crux_spark.sources.layout import bucket_pruned, save_optimized

    src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "lineitem_opt")
    save_optimized(src, path, "l_orderkey", ["l_orderkey", "l_shipdate"], buckets=8)
    key = src.select("l_orderkey").first()[0]
    out = bucket_pruned(spark, path, "l_orderkey", key, buckets=8)
    rows = out.collect()
    exp = src.filter(F.col("l_orderkey") == key).count()
    assert len(rows) == exp and exp > 0
    # the scan must touch exactly ONE bucket directory
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan


def test_streaming_near_dup_detector(spark, tmp_path):
    from crux_spark.streaming.ingest import StreamingNearDupDetector

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    batch1 = [("d1", base), ("d2", "completely different content about spark engines")]
    # d3 is a near-dup of d1 (one word changed), arriving in a LATER batch
    batch2 = [("d3", base.replace("lazy", "sleepy")), ("d4", "another unrelated text")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)

    det = StreamingNearDupDetector(spark, src, schema, threshold=0.3)
    det.start(ckpt)
    det.await_all()
    assert det.pairs.count() == 0  # nothing similar within batch 1

    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    det.await_all()
    got = {(r.id_a, r.id_b) for r in det.pairs.collect()}
    det.stop()
    assert ("d1", "d3") in got  # cross-batch near-dup found via the index
    assert all(p == ("d1", "d3") for p in got)


def test_streaming_near_dup_detector_drops_pairs_of_a_reput_id(spark):
    """A re-sent id replaces its postings in the index, so its old pairs
    leave the detector's pair table: the table holds what the index
    holds now, not every pair some batch once found."""
    from crux_spark.streaming.ingest import StreamingNearDupDetector

    schema = "doc_id string, text string"
    text = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest tonight")
    det = StreamingNearDupDetector(spark, "unused", schema)
    det._apply_batch(
        spark.createDataFrame([("a", text), ("b", text + " again")], schema), 0
    )
    assert [(r.id_a, r.id_b) for r in det.pairs.collect()] == [("a", "b")]
    det._apply_batch(spark.createDataFrame([(
        "b", "completely different words entirely unrelated content nothing "
             "shared with any earlier document at all here",
    )], schema), 1)
    assert det.pairs.collect() == []
    # a third doc near the new b pairs with it, and the table keeps it
    # when an unrelated batch arrives
    det._apply_batch(spark.createDataFrame([(
        "c", "completely different words entirely unrelated content nothing "
             "shared with any earlier document at all there",
    )], schema), 2)
    det._apply_batch(
        spark.createDataFrame([("d", "zebra yak xylophone walrus")], schema), 3
    )
    assert [(r.id_a, r.id_b) for r in det.pairs.collect()] == [("b", "c")]


def test_streaming_tx_ingest_large_batch(spark, tmp_path):
    """A micro-batch far beyond driver-collect comfort must flow through the
    cogrouped splice without a driver round-trip (round-1 finding: the old
    _apply_batch collected every batch row to the driver)."""
    from pyspark.sql import functions as F

    from crux_spark.streaming.ingest import TxLogStream

    log_dir = str(tmp_path / "biglog")
    ckpt = str(tmp_path / "bigckpt")
    n, entities = 150_000, 50_000
    ops = spark.range(n).select(
        F.concat(F.lit("e"), (F.col("id") % entities)).alias("eid"),
        (F.col("id") + 1).alias("tx_id"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("put").alias("op"),
        ((F.col("id") + 1) * 1_000_000).alias("tx_time"),
        F.to_json(F.struct(F.col("id").alias("v"))).alias("doc_json"),
        F.lit(None).cast("string").alias("expected_json"),
        ((F.col("id") + 1) * 1_000_000).alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    ops.write.parquet(log_dir)
    stream = TxLogStream(spark, log_dir)
    sq = stream.start(ckpt)
    sq.awaitTermination(300)
    assert stream.store._tx_id == n
    # every entity got n/entities puts; all are visible now
    assert stream.store.db().count() == entities


def test_tx_log_kafka_reader_config(spark):
    """The Kafka tx-log swap (crux-kafka/src/crux/kafka.clj) as TESTED
    config: constructor-level source_format builds the production reader
    options without needing a broker."""
    from crux_spark.streaming.ingest import TxLogStream

    s = TxLogStream(
        spark,
        source_format="kafka",
        kafka_options={
            "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
            "subscribe": "my-tx-topic",
        },
    )
    cfg = s.reader_config()
    assert cfg["format"] == "kafka"
    assert cfg["options"]["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert cfg["options"]["subscribe"] == "my-tx-topic"  # override honored
    # replay-from-genesis + no-silent-truncation defaults (kafka.clj
    # semantics: a fresh node indexes the whole log; data loss is fatal)
    assert cfg["options"]["startingOffsets"] == "earliest"
    assert cfg["options"]["failOnDataLoss"] == "true"

    with pytest.raises(ValueError, match="bootstrap"):
        TxLogStream(spark, source_format="kafka").reader_config()
    with pytest.raises(ValueError, match="source_format"):
        TxLogStream(spark, source_format="pulsar")
    with pytest.raises(ValueError, match="log_dir"):
        TxLogStream(spark)  # parquet needs a directory


def test_tx_log_parquet_reader_config(spark, tmp_path):
    from crux_spark.streaming.ingest import TxLogStream

    s = TxLogStream(spark, str(tmp_path / "log"))
    cfg = s.reader_config()
    assert cfg["format"] == "parquet"
    assert cfg["options"]["path"].endswith("log")


def test_stream_exact_dedup(spark, tmp_path):
    from crux_spark.streaming.ingest import stream_exact_dedup

    src = str(tmp_path / "dedup_src")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t0 = dt.datetime(2023, 5, 1, 10)
    spark.createDataFrame(
        [
            (1, t0, "Hello  World"),
            (2, t0, "hello world"),   # dup after normalization
            (3, t0, "something else"),
            (4, t0, "HELLO WORLD "),  # dup
        ],
        schema,
    ).write.mode("overwrite").parquet(src)

    out = stream_exact_dedup(spark, src, schema, time_col="ts")
    sq = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(60)
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    # one survivor per content hash
    assert len(rows) == 2
    assert len({r.content_hash for r in rows}) == 2


def test_stream_sessionize(spark, tmp_path):
    from crux_spark.streaming.ingest import stream_sessionize

    src = str(tmp_path / "sess_src")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2023, 5, 1, 10, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    spark.createDataFrame(
        [
            (1, at(0)), (1, at(10)), (1, at(20)),   # one session (gaps < 30m)
            (1, at(120)), (1, at(125)),             # second session after a 100m gap
            (2, at(5)),                             # lone event session
        ],
        schema,
    ).write.mode("overwrite").parquet(src)

    out = stream_sessionize(spark, src, schema, gap="30 minutes")
    sq = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(60)
    rows = spark.sql("SELECT user_id, n_events, started_at FROM sess_out").collect()
    sessions = sorted((r.user_id, r.n_events, r.started_at) for r in rows)
    assert sessions == [(1, 2, at(120)), (1, 3, at(0)), (2, 1, at(5))]


def test_node_register_index(spark):
    """Node.register_index (the reference's register-index! seam): a
    registered incremental index receives one committed-rows batch per
    await_tx — staying current through put/update/delete — aborted txs
    index nothing, and unsubscribe detaches it."""
    from crux_spark.functions.text_search import IncrementalTextIndex
    from crux_spark.node import Node

    node = Node(spark)
    idx = IncrementalTextIndex(spark)
    unsub = node.register_index("text", idx)
    assert node.indexes == {"text": idx}

    node.submit_tx([("put", {"id": "d1", "text": "alpha beta"})])
    node.submit_tx([("put", {"id": "d2", "text": "beta gamma"})])
    node.await_tx()
    assert {r.eid for r in idx.search("beta").collect()} == {"d1", "d2"}
    assert idx.last_tx_id == 2

    # update d1 (alpha gone), delete d2 — one commit, one batch
    node.submit_tx([("put", {"id": "d1", "text": "delta only"})])
    node.submit_tx([("delete", "d2")])
    node.await_tx()
    assert idx.search("alpha").count() == 0
    assert idx.search("beta").count() == 0
    assert {r.eid for r in idx.search("delta").collect()} == {"d1"}

    # a match-aborted tx indexes nothing
    node.submit_tx([
        ("match", "d1", {"id": "d1", "text": "WRONG"}),
        ("put", {"id": "d1", "text": "poison"}),
    ])
    aborted = node.await_tx()
    assert aborted == {5}
    assert idx.search("poison").count() == 0
    assert {r.eid for r in idx.search("delta").collect()} == {"d1"}

    # unsubscribe detaches: later commits no longer reach the index
    unsub()
    assert node.indexes == {}
    node.submit_tx([("put", {"id": "d9", "text": "omega"})])
    node.await_tx()
    assert idx.search("omega").count() == 0
