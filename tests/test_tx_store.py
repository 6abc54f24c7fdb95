"""Distributed TxStore semantics (tx_test.clj model): put/delete/match/
evict/tx-fn, corrections, speculative with-tx, persistence round-trip."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from crux_spark.bitemporal.store import TxStore


def t(day):
    return dt.datetime(2021, 6, day)


@pytest.fixture()
def store(spark):
    return TxStore(spark)


def test_put_and_entity(store):
    store.submit_tx([("put", {"id": "p1", "name": "Ann", "age": 30})], tx_time=t(1))
    store.submit_tx([("put", {"id": "p2", "name": "Bob"})], tx_time=t(1))
    assert store.commit() == set()
    assert store.entity("p1", valid_time=t(2))["name"] == "Ann"
    assert store.entity("p2", valid_time=t(2))["name"] == "Bob"
    assert store.entity("p1", valid_time=dt.datetime(2021, 5, 1)) is None


def test_correction_and_tx_travel(store):
    store.submit_tx([("put", {"id": "p1", "v": 1}, t(1))], tx_time=t(1))
    store.commit()
    store.submit_tx([("put", {"id": "p1", "v": 2}, t(1))], tx_time=t(2))
    store.commit()
    assert store.entity("p1", valid_time=t(5))["v"] == 2
    assert store.entity("p1", valid_time=t(5), tx=1)["v"] == 1  # pre-correction


def test_delete_and_history(store):
    store.submit_tx([("put", {"id": "p1", "v": 1}, t(1))], tx_time=t(1))
    store.submit_tx([("delete", "p1", t(10))], tx_time=t(2))
    store.commit()
    assert store.entity("p1", valid_time=t(5))["v"] == 1
    assert store.entity("p1", valid_time=t(11)) is None
    hist = store.entity_history("p1")
    assert [h["deleted"] for h in hist] == [False, True]
    hist_desc = store.entity_history("p1", ascending=False)
    assert hist_desc[0]["deleted"] is True


def test_match_aborts_whole_tx(store):
    store.submit_tx([("put", {"id": "p1", "v": 1})], tx_time=t(1))
    store.commit()
    # match expects wrong content -> both ops of the tx abort
    aborted = None
    tx = store.submit_tx(
        [("match", "p1", {"id": "p1", "v": 99}, t(2)), ("put", {"id": "p2", "v": 5})],
        tx_time=t(2),
    )
    aborted = store.commit()
    assert aborted == {tx}
    assert store.entity("p2", valid_time=t(3)) is None
    # correct match -> applies
    tx2 = store.submit_tx(
        [("match", "p1", {"id": "p1", "v": 1}, t(3)), ("put", {"id": "p2", "v": 5})],
        tx_time=t(3),
    )
    assert store.commit() == set()
    assert store.entity("p2", valid_time=t(4))["v"] == 5


def test_evict_hard_deletes(store):
    store.submit_tx([("put", {"id": "p1", "v": 1}, t(1))], tx_time=t(1))
    store.commit()
    store.submit_tx([("evict", "p1")], tx_time=t(2))
    store.commit()
    assert store.entity("p1", valid_time=t(5)) is None
    assert store.entity("p1", valid_time=t(5), tx=1) is None  # gone from history too
    assert store.entity_history("p1") == []


def test_tx_fn(store):
    def increment(db, eid):
        cur = db.entity(eid) or {"id": eid, "n": 0}
        cur["n"] = cur.get("n", 0) + 1
        return [("put", cur)]

    store.register_tx_fn("inc", increment)
    store.submit_tx([("put", {"id": "c1", "n": 41})], tx_time=t(1))
    store.commit()
    store.submit_tx([("fn", "inc", "c1")], tx_time=t(2))
    store.commit()
    assert store.entity("c1", valid_time=t(3))["n"] == 42


def test_speculative_with_tx(store):
    store.submit_tx([("put", {"id": "p1", "v": 1})], tx_time=t(1))
    store.commit()
    fork = store.with_tx([("put", {"id": "p1", "v": 2})], tx_time=t(2))
    assert fork.entity("p1", valid_time=t(3))["v"] == 2
    assert store.entity("p1", valid_time=t(3))["v"] == 1  # base unchanged


def test_ranged_put_via_store(store):
    store.submit_tx([("put", {"id": "p1", "v": 1}, t(1))], tx_time=t(1))
    store.submit_tx([("put", {"id": "p1", "v": 2}, t(5), t(10))], tx_time=t(2))
    store.commit()
    assert store.entity("p1", valid_time=t(3))["v"] == 1
    assert store.entity("p1", valid_time=t(7))["v"] == 2
    assert store.entity("p1", valid_time=t(12))["v"] == 1


def test_save_load_roundtrip(store, spark, tmp_path):
    store.submit_tx([("put", {"id": "p1", "v": 1}, t(1))], tx_time=t(1))
    store.submit_tx([("put", {"id": "p2", "v": 2}, t(1))], tx_time=t(1))
    store.commit()
    path = str(tmp_path / "versions")
    store.save(path, buckets=4)
    loaded = TxStore.load(spark, path)
    assert loaded.entity("p1", valid_time=t(2))["v"] == 1
    loaded.submit_tx([("put", {"id": "p3", "v": 3}, t(1))], tx_time=t(2))
    loaded.commit()
    assert loaded.entity("p3", valid_time=t(2))["v"] == 3


def test_db_snapshot_queryable_via_datalog(store, spark):
    """End-to-end: tx store snapshot -> typed docs -> Datalog query."""
    from pyspark.sql import functions as F

    from crux_spark import Catalog
    from crux_spark.datalog import q

    store.submit_tx(
        [
            ("put", {"id": "u1", "uname": "ann", "score": 10}),
            ("put", {"id": "u2", "uname": "bob", "score": 20}),
            ("put", {"id": "u3", "uname": "cid", "score": 30}),
        ],
        tx_time=t(1),
    )
    store.commit()
    snap = store.db(valid_time=t(2))
    docs = snap.select(
        F.col("eid"),
        F.get_json_object("doc_json", "$.uname").alias("uname"),
        F.get_json_object("doc_json", "$.score").cast("long").alias("score"),
    )
    cat = Catalog(spark)
    cat.add_documents("users", docs, id_col="eid")
    res = q(
        cat,
        {
            "find": ["?n"],
            "where": [["?u", ":uname", "?n"], ["?u", ":score", "?s"], [[">", "?s", 15]]],
        },
    )
    assert sorted(r.n for r in res.collect()) == ["bob", "cid"]


def test_cas_op(store):
    store.submit_tx([("put", {"id": "c1", "v": 1})], tx_time=t(1))
    store.commit()
    # wrong expected -> aborts
    tx_bad = store.submit_tx(
        [("cas", "c1", {"id": "c1", "v": 99}, {"id": "c1", "v": 2}, t(2))], tx_time=t(2)
    )
    assert store.commit() == {tx_bad}
    assert store.entity("c1", valid_time=t(3))["v"] == 1
    # correct expected -> swaps
    store.submit_tx(
        [("cas", "c1", {"id": "c1", "v": 1}, {"id": "c1", "v": 2}, t(3))], tx_time=t(3)
    )
    assert store.commit() == set()
    assert store.entity("c1", valid_time=t(4))["v"] == 2


def test_bitemp_paper_scenario(store):
    """Miniature of the bitemporal-paper test (query_test.clj:1963-2105):
    an entity's location history with late-arriving corrections."""
    d = lambda day: dt.datetime(2021, 6, day)
    # officially recorded: in NY from d2
    store.submit_tx([("put", {"id": "p", "loc": "NY"}, d(2))], tx_time=d(2))
    store.commit()
    # later we LEARN (tx at d10) they had moved to LA back at d5
    store.submit_tx([("put", {"id": "p", "loc": "LA"}, d(5))], tx_time=d(10))
    store.commit()
    # and later still, a correction: actually SF from d5
    store.submit_tx([("put", {"id": "p", "loc": "SF"}, d(5))], tx_time=d(12))
    store.commit()
    # current belief
    assert store.entity("p", valid_time=d(3))["loc"] == "NY"
    assert store.entity("p", valid_time=d(6))["loc"] == "SF"
    # what we believed at tx 2 (before the correction): LA
    assert store.entity("p", valid_time=d(6), tx=2)["loc"] == "LA"
    # what we believed at tx 1: still NY at d6
    assert store.entity("p", valid_time=d(6), tx=1)["loc"] == "NY"
    # audit trail shows all three assertions
    hist = store.entity_history("p", with_corrections=True)
    assert [h["doc"]["loc"] for h in hist] == ["NY", "LA", "SF"]


def test_wal_recover(spark, tmp_path):
    wal = str(tmp_path / "tx.wal")
    store = TxStore(spark, wal_path=wal)
    store.register_tx_fn("bump", lambda db, eid, n: [("put", {"id": eid, "n": n})])
    store.submit_tx([("put", {"id": "w1", "v": 1})])
    store.submit_tx([("fn", "bump", "w2", 42)])
    store.submit_tx([("delete", "w1")])
    store.commit()
    # replay on a fresh store: no fn registry needed (WAL holds expanded ops)
    rec = TxStore.recover(spark, wal)
    assert rec.entity("w1") is None
    assert rec.entity("w2") == {"id": "w2", "n": 42}
    assert rec._tx_id == 3
    # recovered store continues logging to the same WAL
    rec.submit_tx([("put", {"id": "w3", "v": 3})])
    rec.commit()
    rec2 = TxStore.recover(spark, wal)
    assert rec2.entity("w3") == {"id": "w3", "v": 3}


def test_wal_recover_ignores_torn_tail(spark, tmp_path):
    """A crash in mid-append leaves a last JSONL line with no newline.
    recover() must return the acknowledged prefix, and the next append
    must replace the torn tail instead of gluing onto it."""
    wal = tmp_path / "tx.wal"
    store = TxStore(spark, wal_path=str(wal))
    store.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
    store.submit_tx([("put", {"id": "b", "v": 1})], tx_time=t(2))
    line = json.dumps({"tx_id": 3, "rows": [{"tx_id": 3, "seq": 0}]})
    with open(wal, "a") as f:
        f.write(line[: len(line) // 2])
    rec = TxStore.recover(spark, str(wal))
    assert rec._tx_id == 2
    assert rec.entity("a", valid_time=t(3)) == {"id": "a", "v": 1}
    assert rec.entity("b", valid_time=t(3)) == {"id": "b", "v": 1}
    rec.submit_tx([("put", {"id": "c", "v": 1})], tx_time=t(3))
    rec2 = TxStore.recover(spark, str(wal))
    assert rec2._tx_id == 3
    assert [rec2.entity(e, valid_time=t(4))["v"] for e in "abc"] == [1, 1, 1]


def test_wal_tx_log_with_ops_ignores_torn_tail(spark, tmp_path):
    """tx_log(with_ops=True) reads the WAL through Spark's JSON reader,
    not entries(): a torn last line must still yield the acknowledged
    prefix only."""
    wal = tmp_path / "tx.wal"
    store = TxStore(spark, wal_path=str(wal))
    store.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
    store.submit_tx([("put", {"id": "b", "v": 1}), ("delete", "a")],
                    tx_time=t(2))
    store.commit()
    line = json.dumps({"tx_id": 3, "rows": [{"tx_id": 3, "seq": 0}]})
    with open(wal, "a") as f:
        f.write(line[: len(line) // 2])
    rows = store.tx_log(with_ops=True).collect()
    assert [(r.tx_id, r.op, r.eid) for r in rows] == [
        (1, "put", "a"), (2, "put", "b"), (2, "delete", "a")
    ]
    rec = TxStore.recover(spark, str(wal))
    assert [r.tx_id for r in rec.tx_log(with_ops=True).collect()] == [1, 2, 2]


def test_bucketed_table_join_is_shuffle_free(spark, tmp_path):
    from crux_spark.sources.layout import (
        bucketed_join_is_shuffle_free,
        save_bucketed_table,
    )

    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    save_bucketed_table(orders, "b_orders", "o_orderkey", buckets=8)
    save_bucketed_table(
        lineitem, "b_lineitem", "l_orderkey", buckets=8, sort_cols=["l_orderkey"]
    )
    a = spark.table("b_orders")
    b = spark.table("b_lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    # co-located bucketed layout: the join plans with NO shuffle exchange
    assert bucketed_join_is_shuffle_free(a, b, "o_orderkey")
    n = a.join(b, "o_orderkey").count()
    assert n == lineitem.count()


def test_entity_history_bounds(spark):
    """vt/tt bounds on entity_history (index_store.clj:524-554 opts):
    start inclusive at the iteration origin, end exclusive; tx bounds
    collapse corrections within the window, not against the global
    current belief."""
    import datetime as dt

    from crux_spark.bitemporal.store import TxStore

    store = TxStore(spark)
    t = lambda m, d: dt.datetime(2020, m, d)
    store.submit_tx([("put", {"id": "e", "v": 1}, t(1, 1))])   # tx1
    store.submit_tx([("put", {"id": "e", "v": 2}, t(2, 1))])   # tx2
    store.submit_tx([("put", {"id": "e", "v": 10}, t(1, 1))])  # tx3 correction
    store.submit_tx([("put", {"id": "e", "v": 3}, t(3, 1))])   # tx4
    store.commit()

    full = store.entity_history("e")
    assert [h["doc"]["v"] for h in full] == [10, 2, 3]

    # vt window [Jan 15, inf) ascending
    vs = [h["doc"]["v"] for h in store.entity_history("e", start_valid_time=t(1, 15))]
    assert vs == [2, 3]
    # vt end exclusive: end at Feb 1 excludes the Feb 1 entry
    vs = [h["doc"]["v"] for h in store.entity_history("e", end_valid_time=t(2, 1))]
    assert vs == [10]
    # tx window: before the correction (tx < 3) the Jan 1 belief was v=1
    vs = [h["doc"]["v"] for h in store.entity_history("e", end_tx_id=3)]
    assert vs == [1, 2]
    # descending: start is the HIGH end, inclusive
    vs = [
        h["doc"]["v"]
        for h in store.entity_history("e", ascending=False, start_valid_time=t(2, 15))
    ]
    assert vs == [2, 10]
    # corrections view keeps both Jan 1 assertions in (vt, tx) order
    vs = [
        h["doc"]["v"] for h in store.entity_history("e", with_corrections=True)
    ]
    assert vs == [1, 10, 2, 3]
    # history_scan (set-based) agrees with the per-entity window
    n = store.history_scan(
        start_valid_time=t(1, 15), end_valid_time=t(3, 15)
    ).count()
    assert n == 2


def test_with_tx_query_integration(spark):
    """Speculative with-tx → q in one call (query.clj:1896-1913): the fork
    is Datalog-queryable via .catalog(); the base store is untouched."""
    from crux_spark.bitemporal.store import TxStore
    from crux_spark.datalog import q

    store = TxStore(spark)
    store.submit_tx([("put", {"id": "ivan", "name": "Ivan", "age": 40})])
    store.submit_tx([("put", {"id": "petr", "name": "Petr", "age": 44})])
    store.commit()

    fork = store.with_tx(
        [
            ("put", {"id": "ivan", "name": "Ivan", "age": 41}),
            ("put", {"id": "oleg", "name": "Oleg", "age": 30}),
        ]
    )
    spec = {
        "find": ["?n", "?a"],
        "keys": ["name", "age"],
        "where": [["?e", ":name", "?n"], ["?e", ":age", "?a"]],
    }
    fork_rows = {(r.name, r.age) for r in q(fork.catalog(), spec).collect()}
    assert fork_rows == {("Ivan", 41), ("Petr", 44), ("Oleg", 30)}
    base_rows = {(r.name, r.age) for r in q(store.catalog(), spec).collect()}
    assert base_rows == {("Ivan", 40), ("Petr", 44)}


def test_sql_temporal_prefix(spark):
    """VALIDTIME/TRANSACTIONTIME/TRANSACTIONID SQL prefix
    (calcite.clj:51-71) selects the snapshot the bare SQL runs against."""
    import datetime as dt

    from crux_spark.bitemporal.store import TxStore
    from crux_spark.sql import parse_temporal_prefix, sql_q

    bare, params = parse_temporal_prefix(
        "-- audit query\nVALIDTIME ('2020-06-01T00:00:00') "
        "TRANSACTIONID (2) SELECT * FROM docs"
    )
    assert bare == "SELECT * FROM docs"
    assert params == {
        "valid_time": dt.datetime(2020, 6, 1),
        "tx_id": 2,
    }

    store = TxStore(spark)
    store.submit_tx([("put", {"id": "acc1", "balance": 100}, dt.datetime(2020, 1, 1))])  # tx1
    store.submit_tx([("put", {"id": "acc1", "balance": 250}, dt.datetime(2020, 7, 1))])  # tx2
    store.commit()

    cur = sql_q(
        store,
        "SELECT balance FROM docs WHERE eid = 'acc1'",
        schema="id string, balance long",
    ).collect()
    assert [r.balance for r in cur] == [250]

    past = sql_q(
        store,
        "VALIDTIME ('2020-06-01T00:00:00') SELECT balance FROM docs WHERE eid = 'acc1'",
        schema="id string, balance long",
    ).collect()
    assert [r.balance for r in past] == [100]

    pre_tx = sql_q(
        store,
        "TRANSACTIONID (1) SELECT balance FROM docs WHERE eid = 'acc1'",
        schema="id string, balance long",
    ).collect()
    assert [r.balance for r in pre_tx] == [100]


def test_store_tables_bucketed_layout_shuffle_free(spark, tmp_path):
    """SURVEY §4.2 100x posture on the STORE's own tables: bulk-ingest
    `documents` into a TxStore, persist the versions table bucketed by
    eid alongside a documents table bucketed by doc_id, and plan-assert
    the eid join is shuffle-free at TWO scale factors — the layout
    contract (layout.py save_bucketed_table docstring) holds whatever
    the data volume, because co-location comes from bucket metadata,
    not statistics."""
    import shutil

    from crux_spark.sources.layout import (
        bucketed_join_is_shuffle_free,
        save_bucketed_table,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for sf in ("0.001", "0.01"):
        docs = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")
        store = TxStore(spark)
        store.bulk_ingest(
            docs.limit(500) if sf == "0.01" else docs,
            id_expr="doc_id",
            doc_cols=["doc_id", "lang", "n_chars"],
            valid_from_col="n_chars",  # any monotone long works as vt here
        )
        vt, dt_ = f"b_versions_{sf.replace('.', '_')}", f"b_docs_{sf.replace('.', '_')}"
        for t_ in (vt, dt_):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
            shutil.rmtree(f"{wh}/{t_}", ignore_errors=True)
        save_bucketed_table(store.versions, vt, "eid", buckets=8)
        save_bucketed_table(
            docs.select(F.col("doc_id").cast("string").alias("eid"), "lang"),
            dt_,
            "eid",
            buckets=8,
        )
        a, b = spark.table(vt), spark.table(dt_)
        assert bucketed_join_is_shuffle_free(a, b, "eid")
        joined = a.join(b, "eid")
        assert joined.count() == store.versions.count()


def test_sql_table_mapping_docs(spark):
    """Table-mapping documents stored IN the db (calcite.clj:459-466):
    a :crux.sql.table/... doc turns into a SQL view over the snapshot,
    with columns cast per the stored columns map."""
    from crux_spark.sql import register_sql_tables

    store = TxStore(spark)
    store.submit_tx(
        [
            ("put", {"id": "p1", "name": "Ivan", "age": 30}),
            ("put", {"id": "p2", "name": "Petr", "age": 40}),
            ("put", {"id": "p3", "name": "Anna"}),  # no :age -> excluded
            (
                "put",
                {
                    "id": "person-table",
                    "crux.sql.table/name": "person",
                    "crux.sql.table/query": {
                        "find": ["?id", "?name", "?age"],
                        "where": [
                            ["?id", ":name", "?name"],
                            ["?id", ":age", "?age"],
                        ],
                    },
                    "crux.sql.table/columns": {
                        "?id": ":varchar",
                        "?name": ":varchar",
                        "?age": ":bigint",
                    },
                },
            ),
        ]
    )
    store.commit()
    assert register_sql_tables(store) == ["person"]
    got = spark.sql(
        "SELECT name, age FROM person WHERE age > 35"
    ).collect()
    assert [(r.name, r.age) for r in got] == [("Petr", 40)]
    assert dict(spark.sql("SELECT * FROM person").dtypes)["age"] == "bigint"

    # a later tx updates the data; re-registration sees the new snapshot
    store.submit_tx([("put", {"id": "p1", "name": "Ivan", "age": 99})])
    store.commit()
    register_sql_tables(store)
    ages = {
        r.name: r.age for r in spark.sql("SELECT name, age FROM person").collect()
    }
    assert ages == {"Ivan": 99, "Petr": 40}


def test_tx_fn_sees_in_tx_results(spark):
    """tx_test.clj:713 tx-fn-sees-in-tx-query-results: a tx fn observes
    the effects of EARLIER ops in the same transaction."""
    store = TxStore(spark)
    store.submit_tx([("put", {"id": "foo", "foo": 1})])
    store.commit()

    def doubling(ctx):
        bar = ctx.entity("bar")
        foo = ctx.entity("foo")
        return [
            ("put", {"id": "prn-out", "e_ref": bar["ref"], "foo_seen": foo["foo"]}),
            ("put", {**foo, "foo": foo["foo"] * 2}),
        ]

    store.register_tx_fn("doubling", doubling)
    store.submit_tx(
        [
            ("put", {"id": "foo", "foo": 2}),
            ("put", {"id": "bar", "ref": "foo"}),
            ("fn", "doubling"),
        ]
    )
    assert store.commit() == set()
    assert store.entity("foo")["foo"] == 4
    out = store.entity("prn-out")
    assert out["e_ref"] == "foo" and out["foo_seen"] == 2


def test_tx_fn_return_values_457(spark):
    """tx_test.clj:760 transaction-fn-return-values-457: nil return is a
    no-op (tx continues), false return aborts the whole tx."""
    store = TxStore(spark)
    store.register_tx_fn("nil-fn", lambda ctx: None)
    store.register_tx_fn("false-fn", lambda ctx: False)

    store.submit_tx([("fn", "nil-fn"), ("put", {"id": "foo", "ok": True})])
    assert store.commit() == set()
    assert store.entity("foo")["ok"] is True

    tx = store.submit_tx([("fn", "false-fn"), ("put", {"id": "bar", "ok": True})])
    assert store.commit() == {tx}
    assert store.entity("bar") is None
    assert store.tx_committed(tx) is False


def test_overlapping_valid_time_ranges_434(spark):
    """tx_test.clj:925-968 overlapping-valid-time-ranges-434: ranged and
    unranged puts across several entities in one tx; history shows the
    exact per-valid-time timeline incl. reverts at range ends."""
    store = TxStore(spark)
    d = lambda day: dt.datetime(2020, 1, day)
    store.submit_tx(
        [
            ("put", {"id": "foo", "v": 10}, d(10)),
            ("put", {"id": "bar", "v": 5}, d(5)),
            ("put", {"id": "bar", "v": 10}, d(10)),
            ("put", {"id": "baz", "v": 10}, d(10)),
        ]
    )
    store.commit()
    store.submit_tx(
        [
            ("put", {"id": "bar", "v": 7}, d(7)),
            ("put", {"id": "foo", "v": 8}, d(8), d(12)),   # reverts to 10 after
            ("put", {"id": "foo", "v": 9}, d(9), d(11)),   # reverts to 8, then 10
            ("put", {"id": "bar", "v": 8}, d(8), d(9)),    # reverts to 7 after
            ("put", {"id": "bar", "v": 11}, d(11), d(12)), # reverts to 10 after
        ]
    )
    store.commit()

    def timeline(eid):
        return [
            (h["valid_from"], None if h["doc"] is None else h["doc"]["v"])
            for h in store.entity_history(eid)
        ]

    assert timeline("foo") == [
        (d(8), 8), (d(9), 9), (d(10), 9), (d(11), 8), (d(12), 10),
    ]
    assert timeline("bar") == [
        (d(5), 5), (d(7), 7), (d(8), 8), (d(9), 7), (d(10), 10),
        (d(11), 11), (d(12), 10),
    ]
    assert timeline("baz") == [(d(10), 10)]


def test_put_evict_in_same_transaction_1337(spark):
    """tx_test.clj:1235-1286: evict composes with puts inside one tx in
    op order; an evicted entity leaves no history or index entries."""
    store = TxStore(spark)
    # put then evict
    store.submit_tx([("put", {"id": "t1/a", "t1": True})])
    store.submit_tx(
        [("put", {"id": "t1/b", "t1": True, "evicted": True}), ("evict", "t1/b")]
    )
    store.commit()
    assert store.entity("t1/a")["t1"] is True
    assert store.entity("t1/b") is None
    assert store.entity_history("t1/b") == []
    # put then evict an EARLIER entity
    store.submit_tx([("put", {"id": "t2/a", "t2": True, "evicted": True})])
    store.commit()
    store.submit_tx([("put", {"id": "t2/b", "t2": True}), ("evict", "t2/a")])
    store.commit()
    assert store.entity("t2/a") is None
    assert store.entity("t2/b")["t2"] is True
    assert store.entity_history("t2/a") == []
    # evict then put (different entities)
    store.submit_tx([("put", {"id": "t3/a", "t3": True})])
    store.commit()
    store.submit_tx([("evict", "t3/a"), ("put", {"id": "t3/b", "t3": True})])
    store.commit()
    assert store.entity("t3/a") is None
    assert store.entity("t3/b")["t3"] is True
    # evict then RE-PUT of the same entity in one tx — works here (the
    # reference's #1337 known issue does not reproduce in this model)
    store.submit_tx([("put", {"id": "t4", "t4": True})])
    store.commit()
    store.submit_tx([("evict", "t4"), ("put", {"id": "t4", "t4": True})])
    store.commit()
    assert store.entity("t4")["t4"] is True


def test_empty_tx_can_be_awaited_1519(spark):
    """tx_test.clj:1327: an empty tx consumes an id and counts as
    committed."""
    store = TxStore(spark)
    tx = store.submit_tx([])
    assert store.commit() == set()
    assert store.latest_submitted_tx() == tx


def test_evict_documents_with_common_attributes(spark):
    """tx_test.clj:1036: evicting one entity leaves shared attribute
    values of others queryable."""
    from crux_spark.datalog import q

    store = TxStore(spark)
    store.submit_tx(
        [("put", {"id": "foo", "count": 1}), ("put", {"id": "bar", "count": 1})]
    )
    store.commit()
    store.submit_tx([("evict", "foo")])
    store.commit()
    cat = store.catalog(schema="count long")
    res = q(cat, {"find": ["?e"], "where": [["?e", ":count", 1]]})
    assert {r.e for r in res.collect()} == {"bar"}


def test_tx_log_skips_failed_transactions(spark):
    """api_test.clj:215-260: aborted txs never appear in the tx log;
    after_tx_id excludes itself."""
    store = TxStore(spark)
    tx1 = store.submit_tx([("put", {"id": "ivan", "name": "Ivan"})])
    store.commit()
    tx2 = store.submit_tx(
        [
            ("match", "ivan", {"id": "ivan", "name": "Ivan2"}),
            ("put", {"id": "ivan", "name": "Ivan3"}),
        ]
    )
    assert store.commit() == {tx2}
    assert store.tx_committed(tx2) is False
    assert [r.tx_id for r in store.tx_log().collect()] == [tx1]
    tx3 = store.submit_tx(
        [
            ("match", "ivan", {"id": "ivan", "name": "Ivan"}),
            ("put", {"id": "ivan", "name": "Ivan3"}),
        ]
    )
    assert store.commit() == set()
    assert [r.tx_id for r in store.tx_log().collect()] == [tx1, tx3]
    # after_tx_id excludes itself
    assert [r.tx_id for r in store.tx_log(after_tx_id=tx1).collect()] == [tx3]


def test_resurrecting_doc_1127(spark):
    """query_test.clj:3625: delete makes a previously-matching doc
    disappear from query results."""
    from crux_spark.datalog import q

    store = TxStore(spark)
    store.submit_tx([("put", {"id": "my-id", "name": "hello", "age": 17})])
    store.commit()
    cat = store.catalog(schema="name string, age long")
    spec = {
        "find": ["?n"],
        "where": [["?n", ":name", "hello"], ["?n", ":age", 17]],
    }
    assert {r.n for r in q(cat, spec).collect()} == {"my-id"}
    store.submit_tx([("delete", "my-id")])
    store.commit()
    cat2 = store.catalog(schema="name string, age long")
    assert q(cat2, spec).count() == 0


def test_map_ordering_362(spark):
    """tx_test.clj:782: cas/match is independent of the key order of the
    expected document (content hashing sorts keys)."""
    store = TxStore(spark)
    store.submit_tx([("put", {"id": "foo", "foo": "bar"})])
    store.commit()
    # expected doc given in a DIFFERENT key order than stored
    store.submit_tx(
        [("cas", "foo", {"foo": "bar", "id": "foo"}, {"id": "foo", "foo": "baz"})]
    )
    assert store.commit() == set()
    assert store.entity("foo")["foo"] == "baz"


def test_query_and_match(spark):
    """query_test.clj:1869-1940 test-query-and-match: match nil as
    create-guard, stale match aborts, match sees interim in-tx state,
    normal puts after matches, earlier txs stay checkable."""
    store = TxStore(spark)
    # create new user (match nil = must not exist)
    tx1 = store.submit_tx(
        [("match", "ivan", None), ("put", {"id": "ivan", "name": "Ivan 1st"})]
    )
    assert store.commit() == set()
    assert store.tx_committed(tx1) is True
    assert store.entity("ivan")["name"] == "Ivan 1st"
    # cannot create EXISTING user
    tx2 = store.submit_tx(
        [("match", "ivan", None), ("put", {"id": "ivan", "name": "Ivan 2nd"})]
    )
    assert store.commit() == {tx2}
    assert store.tx_committed(tx2) is False
    assert store.entity("ivan")["name"] == "Ivan 1st"
    # guarded update
    tx3 = store.submit_tx(
        [
            ("match", "ivan", {"id": "ivan", "name": "Ivan 1st"}),
            ("put", {"id": "ivan", "name": "Ivan 2nd"}),
        ]
    )
    assert store.commit() == set()
    assert store.entity("ivan")["name"] == "Ivan 2nd"
    # match sees interim state through the transaction
    tx4 = store.submit_tx(
        [
            ("match", "ivan", {"id": "ivan", "name": "Ivan 2nd"}),
            ("put", {"id": "ivan", "name": "Ivan 3rd"}),
            ("match", "ivan", {"id": "ivan", "name": "Ivan 3rd"}),
            ("put", {"id": "ivan", "name": "Ivan 4th"}),
        ]
    )
    assert store.commit() == set()
    assert store.tx_committed(tx4) is True
    assert store.entity("ivan")["name"] == "Ivan 4th"
    # normal put after match
    store.submit_tx([("put", {"id": "ivan", "name": "Ivan 5th"})])
    assert store.commit() == set()
    assert store.entity("ivan")["name"] == "Ivan 5th"
    # earlier txs can still be checked
    assert store.tx_committed(tx3) is True


def test_bitemp_paper_full_scenario(spark):
    """The FULL bitemporal-paper scenario (query_test.clj:1963-2092,
    'Indexing temporal data using existing B+-trees' §7): 13 days of
    puts and corrections across 7 travelers; the canonical query — who
    was in the US on day 2 (valid time) AS OF day 3 (transaction time)
    — must not see any of the later corrections."""
    from crux_spark.node import Node

    node = Node(
        spark,
        schema="entry_pt string, arrival_time string, departure_time string",
    )
    d = lambda m, day: dt.datetime(2019, m, day) if m else dt.datetime(2018, 12, day)

    def put(eid, pt, arr, dep, vt):
        return (
            "put",
            {"id": eid, "entry_pt": pt, "arrival_time": arr, "departure_time": dep},
            vt,
        )

    # day 0
    node.submit_tx([
        put("p2", "SFO", "2018-12-31", "na", d(0, 31)),
        put("p3", "LA", "2018-12-31", "na", d(0, 31)),
    ]); node.await_tx()
    node.submit_tx([]); node.await_tx()  # day 1: nothing
    node.submit_tx([put("p4", "NY", "2019-01-02", "na", d(1, 2))]); node.await_tx()
    # day 3: p4 departs
    tx3 = node.submit_tx([put("p4", "NY", "2019-01-02", "2019-01-03", d(1, 3))])
    node.await_tx()
    # day 4: corrections — p1's missed trip, p3's (wrong) departure
    node.submit_tx([
        put("p1", "NY", "2018-12-31", "na", d(0, 31)),
        put("p1", "NY", "2018-12-31", "2019-01-03", d(1, 3)),
        put("p1", "LA", "2019-01-04", "na", d(1, 4)),
        put("p3", "LA", "2018-12-31", "2019-01-04", d(1, 4)),
    ]); node.await_tx()
    # day 5: p2 retroactively departed on arrival day
    node.submit_tx([put("p2", "SFO", "2018-12-31", "2018-12-31", d(1, 5))])
    node.await_tx()
    node.submit_tx([]); node.await_tx()  # day 6
    # days 7-12: undo p3's departure, then the real one, new arrivals
    node.submit_tx([
        put("p3", "LA", "2018-12-31", "na", d(1, 4)),
        put("p3", "LA", "2018-12-31", "2019-01-07", d(1, 7)),
    ]); node.await_tx()
    node.submit_tx([
        put("p3", "SFO", "2019-01-08", "na", d(1, 8)),
        put("p4", "LA", "2019-01-08", "na", d(1, 8)),
    ]); node.await_tx()
    node.submit_tx([put("p3", "SFO", "2019-01-08", "2019-01-08", d(1, 9))])
    node.await_tx()
    node.submit_tx([put("p5", "LA", "2019-01-10", "na", d(1, 10))]); node.await_tx()
    node.submit_tx([put("p7", "NY", "2019-01-11", "na", d(1, 11))]); node.await_tx()
    node.submit_tx([put("p6", "NY", "2019-01-12", "na", d(1, 12))]); node.await_tx()

    got = node.db(dt.datetime(2019, 1, 2), tx=tx3).q(
        {
            "find": ["?p", "?pt", "?arr", "?dep"],
            "where": [
                ["?p", ":entry_pt", "?pt"],
                ["?p", ":arrival_time", "?arr"],
                ["?p", ":departure_time", "?dep"],
            ],
        }
    )
    assert {tuple(r) for r in got.collect()} == {
        ("p2", "SFO", "2018-12-31", "na"),
        ("p3", "LA", "2018-12-31", "na"),
        ("p4", "NY", "2019-01-02", "na"),
    }


def test_sqlite_tx_log_transport(spark, tmp_path):
    """The crux-jdbc analogue (txlog.SqliteTxLog: one tx_log SQL table,
    PRIMARY KEY = total order) drives the same WAL surface as JSONL:
    durable appends, deterministic recover, with_ops read-back, evict
    redaction + compact, checkpoint tail-replay."""
    wal = f"sqlite:{tmp_path}/txlog.db"
    store = TxStore(spark, wal_path=wal)
    store.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
    store.submit_tx([("put", {"id": "b", "v": 2})], tx_time=t(2))
    store.commit()

    # recover from the SQL table alone
    restored = TxStore.recover(spark, wal)
    assert restored.entity("a")["v"] == 1
    assert restored.entity("b")["v"] == 2
    # appends continue into the same table after recover
    restored.submit_tx([("put", {"id": "c", "v": 3})], tx_time=t(3))
    restored.commit()
    again = TxStore.recover(spark, wal)
    assert again.entity("c")["v"] == 3

    # with_ops tx-log reads through the backend
    log = again.tx_log(with_ops=True).collect()
    assert [(r.tx_id, r.op) for r in log] == [(1, "put"), (2, "put"), (3, "put")]

    # evict redaction + physical compaction rewrite the SQL rows
    again.submit_tx([("evict", "a")])
    again.commit()
    assert again.compact_wal() == 1
    import sqlite3

    raw = "".join(
        e for (e,) in sqlite3.connect(f"{tmp_path}/txlog.db").execute(
            "SELECT entry FROM tx_log"
        )
    )
    assert '"v": 1' not in raw and "crux.db/evicted" in raw
    final = TxStore.recover(spark, wal)
    assert final.entity("a") is None and final.entity("c")["v"] == 3


def test_checkpoint_restore_with_sqlite_wal(spark, tmp_path):
    """Checkpoint restore + WAL-tail replay works over the sqlite
    transport too (checkpoint.clj try-restore, jdbc tx-log)."""
    from crux_spark.bitemporal.checkpoint import CheckpointStore

    wal = f"sqlite:{tmp_path}/txlog.db"
    store = TxStore(spark, wal_path=wal)
    store.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
    store.commit()
    cps = CheckpointStore(str(tmp_path / "cps"))
    cps.checkpoint(store)
    # txs past the checkpoint live only in the WAL
    store.submit_tx([("put", {"id": "b", "v": 2})], tx_time=t(2))
    store.commit()

    restored = cps.restore_latest(spark, wal_path=wal)
    assert restored.entity("a")["v"] == 1
    assert restored.entity("b")["v"] == 2


def test_evict_in_aborted_tx_redacts_nothing(spark, tmp_path):
    """An evict inside a tx aborted by a failed match never happened —
    neither tx_log read-back nor compact_wal may redact on its behalf
    (the WAL is written at submit time, before the verdict is known)."""
    wal = str(tmp_path / "wal.jsonl")
    store = TxStore(spark, wal_path=wal)
    store.submit_tx([("put", {"id": "a", "secret": "s3kr1t"})])
    store.commit()
    # failing match aborts the whole tx, including its evict
    aborted = store.submit_tx([
        ("match", "a", {"id": "a", "secret": "WRONG"}),
        ("evict", "a"),
    ])
    assert store.commit() == {aborted}
    assert store.entity("a")["secret"] == "s3kr1t"

    log = store.tx_log(with_ops=True).collect()
    put_row = [r for r in log if r.op == "put"][0]
    assert json.loads(put_row.doc_json)["secret"] == "s3kr1t"

    assert store.compact_wal() == 0
    assert "s3kr1t" in open(wal).read()
    restored = TxStore.recover(spark, wal)
    assert restored.entity("a")["secret"] == "s3kr1t"


def test_evict_then_recreate_survives_compact_wal(spark, tmp_path):
    """Docs put AFTER an evict (re-created entity) read back normally and
    survive the physical WAL rewrite — only ops strictly before the evict
    are tombstoned (the reference keys redaction on the content-hashes
    that were actually evicted, tx-log-evict-454)."""
    wal = str(tmp_path / "wal.jsonl")
    store = TxStore(spark, wal_path=wal)
    store.submit_tx([("put", {"id": "a", "v": "old-life"})])
    store.submit_tx([("evict", "a")])
    store.submit_tx([("put", {"id": "a", "v": "new-life"})])
    store.commit()
    assert store.entity("a")["v"] == "new-life"

    log = store.tx_log(with_ops=True).collect()
    docs = {r.tx_id: r.doc_json for r in log if r.op == "put"}
    assert json.loads(docs[1]) == {"crux.db/evicted": True}
    assert json.loads(docs[3])["v"] == "new-life"

    assert store.compact_wal() == 1
    raw = open(wal).read()
    assert "old-life" not in raw and "new-life" in raw
    # a recover() from the rewritten WAL reproduces the live store
    restored = TxStore.recover(spark, wal)
    assert restored.entity("a")["v"] == "new-life"


def test_compact_wal_preserves_match_verdicts(spark, tmp_path):
    """The tombstone carries the original content-hash so a replayed
    match op compares the same hashes as the original run: a FAILED
    pre-evict match must stay failed after compact_wal + recover (else
    the aborted tx's other puts would silently materialize on replay)."""
    wal = str(tmp_path / "wal.jsonl")
    store = TxStore(spark, wal_path=wal)
    store.submit_tx([("put", {"id": "a", "v": 1})])
    # tx2: failing match on a + collateral put of b — aborted
    tx2 = store.submit_tx([
        ("match", "a", {"id": "a", "v": 999}),
        ("put", {"id": "b", "v": "should-not-exist"}),
    ])
    # tx3: succeeding match on a + collateral put of c — commits
    store.submit_tx([
        ("match", "a", {"id": "a", "v": 1}),
        ("put", {"id": "c", "v": "should-exist"}),
    ])
    store.submit_tx([("evict", "a")])
    assert store.commit() == {tx2}
    assert store.entity("b") is None
    assert store.entity("c")["v"] == "should-exist"

    store.compact_wal()
    restored = TxStore.recover(spark, wal)
    assert restored.aborted_txs == {tx2}
    assert restored.entity("b") is None
    assert restored.entity("c")["v"] == "should-exist"
    assert restored.entity("a") is None


def test_tx_committed_unknown_id_raises(spark):
    """api.clj tx-committed?: an id never handed out by submit_tx raises
    even when it is below the completed watermark (ids are dense)."""
    store = TxStore(spark)
    store.submit_tx([("put", {"id": "a", "v": 1})])
    store.commit()
    assert store.tx_committed(1) is True
    with pytest.raises(ValueError, match="unknown"):
        store.tx_committed(0)
    with pytest.raises(ValueError, match="unknown"):
        store.tx_committed(99)
    pending = store.submit_tx([("put", {"id": "b", "v": 2})])
    with pytest.raises(ValueError, match="not yet indexed"):
        store.tx_committed(pending)


def test_tx_log_evict_redaction_454(spark, tmp_path):
    """tx_test.clj tx-log-evict-454: after an evict, the tx log still
    shows the op STRUCTURE of earlier puts/cas on that eid, but their
    document content reads back redacted."""
    wal = str(tmp_path / "wal.jsonl")
    store = TxStore(spark, wal_path=wal)
    store.submit_tx([("put", {"id": "to-evict", "v": 1})])
    store.submit_tx([("cas", "to-evict", {"id": "to-evict", "v": 1},
                      {"id": "to-evict", "v": 2, "test": "test"})])
    store.submit_tx([("put", {"id": "keep", "v": 7})])
    store.submit_tx([("evict", "to-evict")])
    store.commit()

    log = store.tx_log(with_ops=True).collect()
    by_eid = {}
    for r in log:
        by_eid.setdefault(r.eid, []).append(r)
    # evicted eid: ops present, docs redacted
    assert [r.op for r in by_eid["to-evict"]] == ["put", "match", "put", "evict"]
    for r in by_eid["to-evict"]:
        if r.doc_json is not None:
            assert json.loads(r.doc_json) == {"crux.db/evicted": True}
    # untouched eid keeps its content
    assert json.loads(by_eid["keep"][0].doc_json)["v"] == 7

    # physical erasure: the WAL file itself no longer contains the docs
    n = store.compact_wal()
    assert n >= 2
    raw = open(wal).read()
    assert '"test"' not in raw and '"v": 1' not in raw.replace("keep", "")
    # and recovery from the scrubbed WAL still works for the kept entity
    restored = TxStore.recover(spark, wal)
    assert restored.entity("keep")["v"] == 7
    assert restored.entity("to-evict") is None


def test_map_ids_order_independent_362(spark):
    """tx_test.clj map-ordering-362 + api_test map-as-id: map entity ids
    hash by value, independent of key insertion order."""
    store = TxStore(spark)
    store.submit_tx([("put", {"id": {"foo": 1, "bar": 2}, "v": 7})])
    store.commit()
    assert store.entity({"foo": 1, "bar": 2})["v"] == 7
    assert store.entity({"bar": 2, "foo": 1})["v"] == 7

    # cas against the map id works with either ordering
    store.submit_tx([
        ("cas", {"bar": 2, "foo": 1}, {"id": {"foo": 1, "bar": 2}, "v": 7},
         {"id": {"foo": 1, "bar": 2}, "v": 8}),
    ])
    store.commit()
    assert store.entity({"foo": 1, "bar": 2})["v"] == 8

    # delete by the reordered id removes it
    store.submit_tx([("delete", {"bar": 2, "foo": 1})])
    store.commit()
    assert store.entity({"foo": 1, "bar": 2}) is None


def test_avs_shared_by_evicted_entities_1338(spark):
    """tx_test.clj:1288 — evicting one entity must not affect other
    entities sharing the same attribute/value pairs."""
    store = TxStore(spark)
    store.submit_tx([
        ("put", {"id": "a", "name": "Ivan", "tag": "x"}),
        ("put", {"id": "b", "name": "Ivan", "tag": "x"}),
    ])
    store.commit()
    store.submit_tx([("evict", "a")])
    store.commit()
    assert store.entity("a") is None
    assert store.entity("b")["name"] == "Ivan"
    from crux_spark.catalog import Catalog
    from crux_spark.datalog import q as dq
    cat = Catalog.from_store(store)
    res = dq(cat, {"find": ["?e"], "where": [["?e", ":name", "Ivan"],
                                             ["?e", ":tag", "x"]]})
    assert [r.e for r in res.collect()] == ["b"]


def test_nested_map_values_roundtrip_1001(spark):
    """incomparable-colls-1001 (adapted): nested map values store,
    retrieve, and pull intact through schema inference."""
    store = TxStore(spark)
    store.submit_tx([
        ("put", {"id": "foo", "foo": {"bar": {"baz": 7, "quux": "hello"}}}),
    ])
    store.commit()
    assert store.entity("foo")["foo"]["bar"]["baz"] == 7
    from crux_spark.catalog import Catalog
    from crux_spark.datalog import q as dq
    cat = Catalog.from_store(store)
    # nested struct columns are queryable as whole values
    res = dq(cat, {"find": ["?e", "?v"], "where": [["?e", ":foo", "?v"]]})
    rows = res.collect()
    assert rows[0].e == "foo" and rows[0].v.bar.baz == 7


def test_compact_preserves_post_horizon_reads(spark):
    """compaction_test.clj semantics: compacting at the latest tx keeps
    every snapshot and history read at/after the horizon identical while
    dropping superseded-in-tx rows."""
    store = TxStore(spark)
    t = lambda d: dt.datetime(2021, 1, d)
    store.submit_tx([("put", {"id": "e", "v": 1}, t(1))])   # tx1
    store.submit_tx([("put", {"id": "e", "v": 2}, t(10))])  # tx2
    store.submit_tx([("put", {"id": "e", "v": 9}, t(1))])   # tx3 correction
    store.submit_tx([("put", {"id": "f", "v": 5}, t(5))])   # tx4
    store.commit()

    horizon = store.latest_completed_tx()
    before_snapshot = sorted(
        (r.eid, r.valid_from, json.loads(r.doc_json)["v"])
        for r in store.db(valid_time=t(20)).collect()
    )
    before_hist = [h["doc"]["v"] for h in store.entity_history("e")]

    removed = store.compact(horizon)
    assert removed > 0  # the superseded pre-correction row is gone

    after_snapshot = sorted(
        (r.eid, r.valid_from, json.loads(r.doc_json)["v"])
        for r in store.db(valid_time=t(20)).collect()
    )
    assert after_snapshot == before_snapshot
    assert [h["doc"]["v"] for h in store.entity_history("e")] == before_hist
    # valid-time travel at the horizon still sees the corrected timeline
    assert store.entity("e", valid_time=t(2))["v"] == 9
    assert store.entity("e", valid_time=t(11))["v"] == 2
    # pre-horizon tx-travel is the documented casualty
    assert store.entity("e", valid_time=t(2), tx=1) is None


def test_empty_wal_tx_log_with_ops_both_transports(spark, tmp_path):
    """An empty durable log must read back as an EMPTY tx log (explicit
    WAL schema), not an AnalysisException from schema-less json
    inference (jdbc.clj's open-tx-log on a fresh table yields no rows)."""
    for wal in (str(tmp_path / "w.jsonl"), "sqlite:" + str(tmp_path / "w.db")):
        store = TxStore(spark, wal_path=wal)
        assert store.tx_log(with_ops=True).count() == 0


def test_compact_wal_redacts_doc_containing_evicted_key(spark, tmp_path):
    """Redaction idempotence is checked STRUCTURALLY (exact tombstone
    shape), not by substring: a user doc that merely contains a
    "crux.db/evicted" key must still be redacted by a later evict —
    anything else is a retention gap."""
    wal = str(tmp_path / "wal.jsonl")
    store = TxStore(spark, wal_path=wal)
    store.submit_tx(
        [("put", {"id": "a", "secret": "s3cr3t", "crux.db/evicted": True})],
        tx_time=t(1),
    )
    store.submit_tx([("evict", "a")], tx_time=t(2))
    store.commit()
    assert store.compact_wal() == 1
    put_row = list(store._wal.entries())[0]["rows"][0]
    assert "s3cr3t" not in put_row["doc_json"]
    d = json.loads(put_row["doc_json"])
    assert d["crux.db/evicted"] is True
    # idempotent: the tombstone itself is never re-wrapped
    assert store.compact_wal() == 0


def _ops_frame(spark, txs, after_tx):
    """OPS_SCHEMA frame of [(ops, tx_time)] with tx ids after_tx+1, ...:
    the rows submit_tx builds, fed to apply_ops_df instead of commit()."""
    src = TxStore(spark)
    src._tx_id = after_tx
    for ops, tx_time in txs:
        src.submit_tx(ops, tx_time=tx_time)
    return src._ops_frame(src._pending)


def test_independent_match_aborts_finalize_in_parallel(spark, monkeypatch):
    """Match-abort finalization in apply_ops_df (the distributed op-frame
    path, which still owns the verdict fixpoint) is entity-group-
    parallel: failing txs on DISJOINT entities can't influence each
    other (abort influence only travels through shared eids), so they
    all finalize in the same round — 2 eval rounds + 1 apply = 3
    cogroups, not #aborts+2."""
    import crux_spark.bitemporal.store as st

    calls = {"n": 0}
    orig = st._bucketed_cogroup

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(st, "_bucketed_cogroup", counting)
    store = st.TxStore(spark)
    for e in "abc":
        store.submit_tx([("put", {"id": e, "v": 1})], tx_time=t(1))
    store.commit()

    calls["n"] = 0
    ops = _ops_frame(spark, [
        ([("match", e, {"id": e, "v": 999}), ("put", {"id": e, "v": 2})], t(2))
        for e in "abc"
    ], after_tx=3)
    assert store.apply_ops_df(ops) == {4, 5, 6}
    assert calls["n"] == 3  # 2 eval rounds + 1 final apply
    for e in "abc":
        assert store.entity(e, valid_time=t(3))["v"] == 1


def test_commit_splices_touched_entities_without_cogroup(spark, monkeypatch):
    """On a bulk-loaded store, commit() splices only the touched
    histories on the driver: a 20-op batch with a failing match runs at
    most 2 Spark jobs (collect the touched histories, write the table
    back) and never reaches the cogroup."""
    import crux_spark.bitemporal.store as st

    store = st.TxStore(spark)
    store.bulk_ingest(
        spark.createDataFrame(
            [(f"e{i}", i * 10 + d, t(1 + d)) for i in range(50) for d in range(3)],
            "eid string, v long, vf timestamp",
        ),
        id_expr="eid", doc_cols=["v"], valid_from_col="vf",
    )
    calls = []
    orig = st._bucketed_cogroup
    monkeypatch.setattr(
        st, "_bucketed_cogroup",
        lambda *a, **k: calls.append(1) or orig(*a, **k),
    )
    ids = [
        store.submit_tx([("put", {"id": f"e{i}", "v": 100 + i})
                         for i in range(k, k + 6)], tx_time=t(10 + k))
        for k in (0, 6, 12)
    ]
    bad = store.submit_tx(
        [("match", "e0", {"id": "e0", "v": -1}), ("put", {"id": "e0", "v": -2})],
        tx_time=t(24),
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(sched.nextJobId())
    assert store.commit() == {bad}
    jobs = int(sched.nextJobId()) - j0
    assert calls == []
    assert jobs <= 2, jobs
    assert all(store.tx_committed(i) for i in ids)
    assert store.entity("e0", valid_time=t(25))["v"] == 100
    assert store.entity("e17", valid_time=t(25))["v"] == 117
    assert store.entity("e18", valid_time=t(25))["v"] == 182
    assert [h["doc"]["v"] for h in store.entity_history("e5")] == [50, 51, 52, 105]


def test_dependent_match_aborts_stay_serial(spark):
    """Chained influence on a SHARED entity keeps the serial verdict: a
    later match that fails only because an earlier (itself aborted) tx's
    doc was visible must COMMIT once that abort is final —
    commit(A;B;C) == commit(A);commit(B);commit(C)."""
    store = TxStore(spark)
    store.submit_tx([("put", {"id": "e", "v": 1})], tx_time=t(1))
    store.commit()
    # batch: tx2 aborts (bad match) but would have set v=2;
    # tx3 matches v=1 — fails only if tx2's put were visible inverted:
    # matches v=1 (the TRUE state once tx2 aborts) and must commit.
    tx2 = store.submit_tx(
        [("match", "e", {"id": "e", "v": 999}), ("put", {"id": "e", "v": 2})],
        tx_time=t(2),
    )
    tx3 = store.submit_tx(
        [("match", "e", {"id": "e", "v": 1}), ("put", {"id": "e", "v": 3})],
        tx_time=t(3),
    )
    assert store.commit() == {tx2}
    assert store.tx_committed(tx3) is True
    assert store.entity("e", valid_time=t(4))["v"] == 3


def test_bulk_ingest_fast_path_equivalence(spark):
    """r9 bulk-load fast path: for fresh entities with strictly
    increasing (tx, valid-from) put streams, the closed-form window
    construction must produce EXACTLY the rows of the per-op Python
    splice — compared row-for-row — and mixed ingests (existing
    entities + out-of-order streams) must route through the splice and
    agree with per-op submit_tx on the store API."""
    import random

    from pyspark.sql import functions as F

    from crux_spark.bitemporal.store import (
        VERSIONS_SCHEMA,
        TxStore,
        _apply_ops,
        _bucketed_cogroup,
        _bulk_put_versions,
        _history_cols,
    )

    import hashlib
    import json as _json

    rng = random.Random(17)
    rows = []
    for e in range(12):
        times = sorted(rng.sample(range(1, 2_000), rng.randint(1, 40)))
        for t in times:
            dj = '{"v": %d, "w": "x%d"}' % (t, e)
            # submit-time hash (canonical dump), like the real WAL rows —
            # hash-less ops would legitimately stamp legacy_hash=True on
            # the splice path while the bulk path computes hashes
            ch = hashlib.sha1(_json.dumps(
                _json.loads(dj), sort_keys=True, default=str
            ).encode()).hexdigest()
            rows.append((f"e{e}", t * 1_000_000, 0, "put", t * 1_000_000,
                         dj, None, ch, t * 1_000_000, None))
    ops = spark.createDataFrame(
        rows,
        "eid string, tx_id long, seq long, op string, tx_time long, "
        "doc_json string, expected_json string, content_hash string, "
        "valid_from long, valid_to long",
    )
    fast = _bulk_put_versions(ops)

    def apply_fn(eid, hist, op_rows):
        hist, _ = _apply_ops(list(hist), op_rows, set())
        return _history_cols(eid, hist)

    empty = spark.createDataFrame([], VERSIONS_SCHEMA)
    slow = _bucketed_cogroup(empty, ops, apply_fn, VERSIONS_SCHEMA, 4)
    cols = [f.name for f in VERSIONS_SCHEMA.fields]
    a = sorted(tuple(r) for r in fast.select(*cols).collect())
    b = sorted(tuple(r) for r in slow.select(*cols).collect())
    assert a == b

    # r15: HASH-LESS ops (pre-typed-WAL shape, content_hash cell NULL)
    # must agree too — INCLUDING legacy_hash=True provenance (the
    # tolerant-CAS flag), which the bulk path now stamps from the ops
    # column instead of F.lit(False)
    ops_nohash = ops.withColumn(
        "content_hash", F.lit(None).cast("string"))
    fast_nh = _bulk_put_versions(ops_nohash)
    slow_nh = _bucketed_cogroup(
        empty, ops_nohash, apply_fn, VERSIONS_SCHEMA, 4)
    a_nh = sorted(tuple(r) for r in fast_nh.select(*cols).collect())
    b_nh = sorted(tuple(r) for r in slow_nh.select(*cols).collect())
    assert a_nh == b_nh
    assert all(r.legacy_hash for r in fast_nh.select("legacy_hash").collect())
    # with submit-time hashes the flag stays strict on both paths
    assert not any(r.legacy_hash for r in fast.select("legacy_hash").collect())

    # API-level: a bulk-ingested store answers as-of / history / latest
    # like the per-op path
    df = spark.createDataFrame(
        [("d1", 10, 1.0), ("d1", 20, 2.0), ("d1", 30, 3.0), ("d2", 15, 9.0)],
        "dev string, t long, v double",
    ).withColumn("ts", F.timestamp_micros(F.col("t") * 1_000_000))
    st = TxStore(spark)
    st.bulk_ingest(df, id_expr="dev", doc_cols=["v"], valid_from_col="ts")
    import datetime as dt

    def at(sec):
        return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=sec)

    assert st.entity("d1")["v"] == 3.0
    assert st.entity("d1", valid_time=at(25))["v"] == 2.0
    assert st.entity("d1", valid_time=at(5)) is None
    assert [h["doc"]["v"] for h in st.entity_history("d1")] == [1.0, 2.0, 3.0]
    # second bulk into the SAME entities routes through the splice path
    df2 = spark.createDataFrame(
        [("d1", 40, 4.0)], "dev string, t long, v double"
    ).withColumn("ts", F.timestamp_micros(F.col("t") * 1_000_000))
    st.bulk_ingest(df2, id_expr="dev", doc_cols=["v"], valid_from_col="ts")
    assert st.entity("d1")["v"] == 4.0
    assert [h["doc"]["v"] for h in st.entity_history("d1")] == [1.0, 2.0, 3.0, 4.0]


def test_bulk_ingest_stamps_one_legacy_hash_rule(spark):
    """bulk_ingest builds its docs itself, so the hash computed from
    them is the submit-time hash: legacy_hash is False both for fresh
    eids (the closed form) and for an eid with history (the cogroup).
    Op rows whose content_hash cell is null (a pre-typed WAL or stream
    row) stay back-computed, True, on both routes."""
    def rows(data):
        return spark.createDataFrame(data, "eid string, v long, vf timestamp")

    store = TxStore(spark)
    store.bulk_ingest(rows([("a", 1, t(1)), ("b", 1, t(1))]),
                      id_expr="eid", doc_cols=["v"], valid_from_col="vf")
    store.bulk_ingest(rows([("a", 2, t(2))]),
                      id_expr="eid", doc_cols=["v"], valid_from_col="vf")
    assert store.entity("a")["v"] == 2
    flags = {(r.eid, r.origin_tx, r.legacy_hash)
             for r in store.versions.collect()}
    assert {f[2] for f in flags} == {False}, flags

    tx = store._tx_id + 1
    ops = _ops_frame(spark, [([("put", {"id": "a", "v": 3}),
                               ("put", {"id": "c", "v": 1})], t(3))],
                     after_tx=tx - 1)
    store.apply_ops_df(
        ops.withColumn("content_hash", F.lit(None).cast("string")))
    new = {r.eid: r.legacy_hash
           for r in store.versions.filter(F.col("origin_tx") == tx).collect()}
    assert new == {"a": True, "c": True}


def test_apply_ops_df_fresh_ordered_puts_take_the_closed_form(spark, monkeypatch):
    """An op frame of unranged puts on fresh eids, strictly ordered per
    eid and with null valid_from (tx-time-valid, as submit_tx writes
    them), takes the closed form: no cogroup runs, the rows equal the
    cogroup's, and the existing entity's rows pass through."""
    import crux_spark.bitemporal.store as st
    from crux_spark.bitemporal.store import (
        VERSIONS_SCHEMA, _apply_ops, _history_cols,
    )

    store = TxStore(spark)
    store.submit_tx([("put", {"id": "z", "v": 0})], tx_time=t(1))
    store.commit()
    cols = [f.name for f in VERSIONS_SCHEMA.fields]
    before = [tuple(r) for r in store.versions.select(*cols).collect()]
    ops = _ops_frame(spark, [
        ([("put", {"id": f"e{j}", "v": 10 * d + j}) for j in range(3)], t(2 + d))
        for d in range(4)
    ], after_tx=1)
    assert ops.filter(F.col("valid_from").isNotNull()).count() == 0
    calls = []
    cogroup = st._bucketed_cogroup
    monkeypatch.setattr(
        st, "_bucketed_cogroup",
        lambda *a, **k: calls.append(1) or cogroup(*a, **k),
    )
    assert store.apply_ops_df(ops) == set()
    assert calls == []
    assert store._tx_id == 5

    def apply_fn(eid, hist, op_rows):
        hist, _ = _apply_ops(list(hist), op_rows, set())
        return _history_cols(eid, hist)

    empty = spark.createDataFrame([], VERSIONS_SCHEMA)
    want = sorted(tuple(r) for r in cogroup(
        empty, ops, apply_fn, VERSIONS_SCHEMA, 4).select(*cols).collect())
    got = sorted(tuple(r) for r in store.versions.select(*cols).collect())
    assert got == sorted(want + before)
    assert [h["doc"]["v"] for h in store.entity_history("e1")] == [1, 11, 21, 31]


def test_apply_ops_df_keeps_the_partition_count_bounded(spark):
    """Each apply_ops_df unions rows into the table, on the closed form
    (fresh puts) and on the cogroup (puts on an eid with history) alike.
    The partition count stays within max(start, shuffle partitions)
    however many frames arrive, so reads do not pay per frame."""
    store = TxStore(spark)
    store.submit_tx([("put", {"id": "z", "v": 0})], tx_time=t(1))
    store.commit()
    bound = max(store.versions.rdd.getNumPartitions(), store._nbuckets())
    n_fresh = bound + 2
    counts = []
    for k in range(n_fresh + 2):
        eid = f"f{k}" if k < n_fresh else "z"
        store.apply_ops_df(_ops_frame(
            spark, [([("put", {"id": eid, "v": k})], t(2 + k))],
            after_tx=store._tx_id,
        ))
        counts.append(store.versions.rdd.getNumPartitions())
    assert max(counts) <= bound, counts
    assert store.entity("z")["v"] == n_fresh + 1
    assert store.versions.select("eid").distinct().count() == 1 + n_fresh


def test_bulk_ingest_into_an_empty_store_job_count(spark):
    """A 25k-row bulk load into an empty store runs at most 5 Spark
    jobs: the one probe and the checkpointed closed form."""
    rows = spark.range(25_000).select(
        F.concat(F.lit("e"), F.col("id") % 5_000).alias("eid"),
        F.col("id").alias("v"),
        F.timestamp_seconds(F.col("id") + 1_000).alias("vf"),
    )
    store = TxStore(spark)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(sched.nextJobId())
    store.bulk_ingest(rows, id_expr="eid", doc_cols=["v"], valid_from_col="vf")
    jobs = int(sched.nextJobId()) - j0
    assert jobs <= 5, jobs
    assert store.versions.count() == 25_000 + 20_000


# flat pull specs (no join, no recursion) for the cache-vs-scan parity
# below: a wildcard; plain attrs with :as/:default and :limit on an
# array attr, and a union dispatched on :kind
PULL_SPECS = [
    ["*"],
    [":v", [":v", {"as": "val", "default": -1}], [":tags", {"limit": 2}],
     {":kind": {"a": [":id"], "b": [":eid"]}}],
]


def test_commit_paths_match_pure_python_splice_op_soup(spark):
    """Row identity of both commit paths (the empty-store closed form
    and the touched-entity splice) against a pure-Python reference that
    applies each tx in order with splice.py and drops a tx whose match
    fails. A seeded soup of 1-20-op txs (appends, back-dated puts,
    ranged puts, deletes, evicts, match+put, some designed to abort)
    runs over a bulk-loaded store; the same soup also goes through
    apply_ops_df's bucketed cogroup on a second copy of that store. No
    commit may grow the versions table's partition count. Fixed cases
    then cover an open tombstone tail, a history ending in a ranged
    put, and puts inside an open tail and exactly at its start.

    After every touched-entity commit, the entity cache holds the
    touched entities and the ones read before the commit, and reads
    served from it (entity, entity_tx, entity_history at sampled vt and
    tx, before and after the commit) equal the same reads computed from
    a Spark scan; a flat pull_many equals _pull over Db.catalog()."""
    import hashlib
    import random

    from crux_spark.bitemporal import splice
    from crux_spark.bitemporal.docjson import doc_dumps, doc_loads
    from crux_spark.bitemporal.store import VERSIONS_SCHEMA
    from crux_spark.datalog.pull import pull
    from crux_spark.node import Node

    cols = [f.name for f in VERSIONS_SCHEMA.fields]
    utc = dt.timezone.utc

    def ts(day, minute=0):
        return dt.datetime(2021, 1, 1, tzinfo=utc) + dt.timedelta(
            days=day, minutes=minute
        )

    def chash(doc):
        return hashlib.sha1(doc_dumps(doc).encode()).hexdigest()

    def ref_apply(ref, tx_id, tx_time, ops):
        """One tx on the reference; returns False (ref untouched) when a
        match fails."""
        work = dict(ref)
        for op in ops:
            kind, eid = op[0], (op[1]["id"] if op[0] == "put" else op[1])
            h = work.get(eid, [])
            if kind == "put":
                h = splice.put(h, op[1], tx_id, tx_time, *op[2:],
                               chash=chash(op[1]))
            elif kind == "delete":
                h = splice.delete(h, tx_id, tx_time, *op[2:])
            elif kind == "evict":
                h = splice.evict(h)
            else:
                at = op[3] if len(op) > 3 else tx_time
                if not splice.matches(h, op[2], at, tx=tx_id):
                    return False
            work[eid] = h
        ref.clear()
        ref.update(work)
        return True

    def rows_of(ref):
        return sorted(
            (e, *(getattr(v, c) for c in cols[1:]))
            for e, h in ref.items() for v in h
        )

    def check_rows(store, ref):
        got = sorted(tuple(r) for r in store.versions.select(*cols).collect())
        assert got == rows_of(ref)

    def scan_history(store, eid, tx):
        """The entity's rows by a Spark scan, as believed at tx."""
        vs = store.fork_at(tx).versions.filter(F.col("eid") == eid)
        return [splice.Version(**{c: r[c] for c in cols[1:]})
                for r in vs.select(*cols).collect()]

    def fmt(vs):
        return [(splice.from_us(v.valid_from),
                 None if v.valid_to == splice.END_OF_TIME
                 else splice.from_us(v.valid_to),
                 v.tx_from,
                 None if v.doc_json is None else doc_loads(v.doc_json),
                 v.deleted) for v in vs]

    def check_cached_reads(store, eids, tx_before):
        """entity / entity_tx / entity_history served from the cache at
        sampled (eid, vt, tx) — tx before and after the commit, vt in
        the past — equal the same reads computed from a Spark scan; a
        flat pull_many over the same basis equals _pull over
        Db.catalog()."""
        tx_after = store.completed_watermark()
        assert all(e in store._cache for e in eids)
        before = store.entity_cache_stats()
        sample = rng.sample(eids, min(3, len(eids)))
        for eid in sample:
            tx = rng.choice([tx_before, tx_after])
            vt = ts(rng.randint(0, 62), rng.randint(0, 59))
            snap = store.db(vt, tx).filter(F.col("eid") == eid).collect()
            want = snap[0] if snap else None
            got = store.entity(eid, vt, tx)
            assert got == (None if want is None else doc_loads(want.doc_json))
            etx = store.entity_tx(eid, vt, tx)
            assert etx == (None if want is None else {
                "eid": eid, "tx_id": want.tx_from,
                "valid_from": want.valid_from, "valid_to": want.valid_to,
                "content_hash": want.content_hash,
            })
            hist = scan_history(store, eid, tx)
            lo, hi = sorted(ts(rng.randint(0, 62)) for _ in range(2))
            txs = sorted(rng.randint(0, tx_after + 1) for _ in range(2))
            for asc in (True, False):
                bounds = rng.choice([
                    {},
                    {"start_valid_time": lo if asc else hi,
                     "end_valid_time": hi if asc else lo},
                    {"start_tx_id": txs[0] if asc else txs[1],
                     "end_tx_id": txs[1] if asc else txs[0]},
                ])
                for corr in (False, True):
                    got = store.entity_history(eid, asc, corr, tx=tx, **bounds)
                    want = splice.entity_history(
                        hist, asc, corr,
                        **{k: v if "tx" in k else splice.to_us(v)
                           for k, v in bounds.items()},
                    )
                    assert [tuple(h.values()) for h in got] == fmt(want)
        # every read above was a hit: 6 per sampled eid
        after = store.entity_cache_stats()
        assert after["hits"] - before["hits"] == 6 * len(sample)
        assert after["misses"] == before["misses"]
        check_pull(store, eids[:6] + ["nope", eids[0]],
                   ts(rng.randint(0, 62)), rng.choice([tx_before, tx_after]))

    def check_pull(store, ids, vt, tx):
        node = Node(spark, schema="id string, v bigint, kind string, "
                                  "tags array<bigint>")
        node.store = store
        db = node.db(valid_time=vt, tx=tx)
        out = []
        for spec in PULL_SPECS:
            got = db.pull_many(ids, spec)
            base = spark.createDataFrame([(e,) for e in dict.fromkeys(ids)], ["e"])
            rows = pull(db.catalog(), base, "e", "docs", spec).collect()
            by_id = {r.e: None if r.pull is None else r.pull.asDict(True)
                     for r in rows}
            assert got == [by_id.get(e) for e in ids]
            out.append(got)
        return out

    def commit_and_check(store, ref, txs, max_parts=None, cogroup_store=None):
        want_aborted = set()
        # an entity read before the commit and not touched by it must
        # stay a (valid) cache hit afterwards
        tx_before = store.completed_watermark()
        warm = sorted(ref)[:2]
        for e in warm:
            store.entity(e)
        for ops, tx_time in txs:
            tx_id = store.submit_tx(ops, tx_time=tx_time)
            if not ref_apply(ref, tx_id, tx_time, ops):
                want_aborted.add(tx_id)
        rows = list(store._pending)
        closed_form = store._versions_empty and store._commit_fast_path_ok()
        assert store.commit() == want_aborted
        check_rows(store, ref)
        if not closed_form:  # which assigns versions and clears the cache
            touched = sorted({r["eid"] for r in rows})
            check_cached_reads(store, warm + touched, tx_before)
        if max_parts is not None:
            assert store.versions.rdd.getNumPartitions() <= max_parts
        if cogroup_store is not None:
            ops_df = store._ops_frame(rows)
            assert cogroup_store.apply_ops_df(ops_df) == want_aborted
            check_rows(cogroup_store, ref)
        return want_aborted

    # --- seeded soup over a bulk-loaded store --------------------------
    rng = random.Random(20261017)
    eids = [f"e{i}" for i in range(12)]
    bulk = [
        (e, rng.randint(0, 99), ts(d))
        for e in eids for d in sorted(rng.sample(range(30), 3))
    ]
    store = TxStore(spark)
    store.bulk_ingest(
        spark.createDataFrame(bulk, "eid string, v long, vf timestamp"),
        id_expr="eid", doc_cols=["v"], valid_from_col="vf",
    )
    bulk_parts = store.versions.rdd.getNumPartitions()
    cogroup_store = TxStore(spark, store.versions)
    ref: dict = {}
    for r in store.versions.select(*cols).collect():
        ref.setdefault(r.eid, []).append(
            splice.Version(**{c: r[c] for c in cols[1:]})
        )

    def current_doc(eid, at):
        v = splice.as_of(ref.get(eid, []), at)
        return None if v is None else json.loads(v.doc_json)

    n = 0
    aborted: set = set()
    for c in range(5):
        txs = []
        for k in range(rng.randint(2, 4)):
            tx_time = ts(60 + c, 10 * k)
            ops = []
            for _ in range(rng.randint(1, 20)):
                n += 1
                eid = rng.choice(eids + ["fresh%d" % c])
                doc = {"id": eid, "v": n, "kind": "ab"[n % 2],
                       "tags": list(range(n % 4))}
                kind = rng.choices(
                    ["append", "back", "ranged", "delete", "evict", "match"],
                    [50, 20, 10, 8, 2, 10],
                )[0]
                vf = ts(rng.randint(0, 58), rng.randint(0, 59))
                if kind == "append":
                    ops.append(("put", doc))
                elif kind == "back":
                    ops.append(("put", doc, vf))
                elif kind == "ranged":
                    ops.append(("put", doc, vf, vf + dt.timedelta(days=rng.randint(1, 9))))
                elif kind == "delete":
                    ops.append(("delete", eid, vf) if rng.random() < 0.5 else
                               ("delete", eid, vf, vf + dt.timedelta(days=2)))
                elif kind == "evict":
                    ops.append(("evict", eid))
                else:
                    # match+put: half expect the committed doc (pass
                    # unless an earlier op in the batch moved it), half a
                    # doc that was never stored (designed to abort)
                    expected = (
                        current_doc(eid, vf) if rng.random() < 0.5
                        else {"id": eid, "v": -1}
                    )
                    ops += [("match", eid, expected, vf), ("put", doc, vf)]
            txs.append((ops, tx_time))
        aborted |= commit_and_check(
            store, ref, txs, bulk_parts, cogroup_store
        )
    assert aborted  # the designed aborts happened

    # --- fixed cases: first commit into an empty store, then splices ---
    store, ref = TxStore(spark), {}
    commit_and_check(store, ref, [
        ([("put", {"id": "a", "v": 1})], ts(1)),
        ([("put", {"id": "x", "v": 1}, ts(10))], ts(2)),
        ([("put", {"id": "x", "v": 2}, ts(20))], ts(3)),
    ] + [([("put", {"id": f"p{j}", "v": j})], ts(4 + j)) for j in range(4)])
    first_parts = store.versions.rdd.getNumPartitions()
    # an open tombstone tail (put then delete) and a history that ends
    # in a ranged put (no open row)
    commit_and_check(store, ref, [
        ([("delete", "a")], ts(30)),
        ([("put", {"id": "b", "v": 1}, ts(31), ts(33))], ts(31)),
    ], first_parts)
    # a deleted, a visible, an unknown and a duplicate eid in one pull
    for got in check_pull(store, ["a", "b", "nope", "a"], ts(32), None):
        assert got[0] is None and got[1] is not None and got[2:] == [None, None]
    commit_and_check(store, ref, [
        # appends past the tombstone tail and past the ranged history
        ([("put", {"id": "a", "v": 2})], ts(40)),
        ([("put", {"id": "b", "v": 2})], ts(41)),
        # re-put every entity inside its open tail, plus a new entity
        ([("put", {"id": f"p{j}", "v": 100 + j}) for j in range(4)], ts(42)),
        ([("put", {"id": "n1", "v": -1})], ts(42, 1)),
        # several appends per entity in one batch
        ([("put", {"id": "p0", "v": 200}, ts(50))], ts(43)),
        ([("put", {"id": "p0", "v": 201}, ts(51))], ts(44)),
        # before the open tail's valid_from: overlaps the remainder
        ([("put", {"id": "x", "v": 3}, ts(15))], ts(45)),
    ], first_parts)
    # exactly at the open tail's start
    commit_and_check(store, ref, [
        ([("put", {"id": "x", "v": 4}, ts(20))], ts(46)),
    ], first_parts)


# ------------------------------------------------------ entity cache


def _jobs(spark):
    """Spark jobs launched since the call, by the nextJobId() delta."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(sched.nextJobId())
    return lambda: int(sched.nextJobId()) - j0


def _scan_doc(store, eid, valid_time=None, tx=None):
    rows = store.db(valid_time, tx).filter(F.col("eid") == eid).collect()
    return json.loads(rows[0].doc_json) if rows else None


@pytest.mark.parametrize(
    "writer", ["closed_form", "bulk_ingest", "apply_ops_df", "compact"]
)
def test_entity_cache_sees_every_versions_writer(spark, writer):
    """Every path that assigns ``versions`` invalidates the entity
    cache: an entity read (and cached) before the write reads the new
    state after it, equal to a Spark scan of the new table."""
    store = TxStore(spark)
    if writer == "closed_form":
        # an empty store: "a" is cached as absent, then the first
        # commit takes the closed form
        assert store.entity("a", valid_time=t(3)) is None
        store.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
        assert store._versions_empty and store._commit_fast_path_ok()
        store.commit()
        want = {"id": "a", "v": 1}
    else:
        store.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
        store.submit_tx([("put", {"id": "a", "v": 2})], tx_time=t(2))
        store.commit()
        assert store.entity("a", valid_time=t(3), tx=1) == {"id": "a", "v": 1}
        assert store.entity("a", valid_time=t(3))["v"] == 2
        assert "a" in store._cache
        if writer == "bulk_ingest":
            store.bulk_ingest(
                spark.createDataFrame([("a", 3, t(2))],
                                      "eid string, v long, vf timestamp"),
                id_expr="eid", doc_cols=["v"], valid_from_col="vf",
                tx_id_expr="3",
            )
            want = {"v": 3}
        elif writer == "apply_ops_df":
            store.apply_ops_df(_ops_frame(
                spark, [([("put", {"id": "a", "v": 3}, t(2))], t(3))],
                after_tx=2,
            ))
            want = {"id": "a", "v": 3}
        else:
            # the tx-1 version was closed by tx 2: gone below the horizon
            assert store.compact(before_tx=2) == 1
            assert store.entity("a", valid_time=t(3), tx=1) is None
            assert _scan_doc(store, "a", t(3), 1) is None
            assert store.entity_history("a", with_corrections=True) == \
                store.entity_history("a", with_corrections=True, tx=2)
            want = {"id": "a", "v": 2}
    assert store.entity("a", valid_time=t(3)) == want
    assert _scan_doc(store, "a", t(3)) == want


def test_entity_cache_drops_a_fill_that_raced_a_commit(spark, monkeypatch):
    """A read holds no store mutex: a fill whose collect ran against
    the table a commit then replaced must not be cached, or the read
    after it would serve the pre-commit history."""
    base = TxStore(spark)
    base.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t(1))
    base.submit_tx([("put", {"id": "b", "v": 1})], tx_time=t(1))
    base.commit()
    store = TxStore(spark, base.versions)  # nothing cached yet
    store._tx_id = base._tx_id
    orig = store._fetch_histories
    raced = []

    def fetch_then_commit(versions, eids):
        rows = orig(versions, eids)
        if not raced:  # the commit lands after the collect ran
            raced.append(eids)
            store.submit_tx([("put", {"id": "a", "v": 2})], tx_time=t(2))
            store.commit()
        return rows

    monkeypatch.setattr(store, "_fetch_histories", fetch_then_commit)
    # the racing read returns the state its collect saw ...
    assert store.entity("a", valid_time=t(3)) == {"id": "a", "v": 1}
    assert raced == [["a"]]
    # ... but the cache holds the commit's history, not that fill
    done = _jobs(spark)
    assert store.entity("a", valid_time=t(3)) == {"id": "a", "v": 2}
    assert done() == 0
    assert [h["doc"]["v"] for h in store.entity_history("a")] == [1, 2]
    assert _scan_doc(store, "a", t(3)) == {"id": "a", "v": 2}
    # a fill that no commit raced is kept
    assert store.entity("b", valid_time=t(3)) == {"id": "b", "v": 1}
    assert "b" in store._cache


def test_entity_cache_job_counts(spark):
    """Warm point reads and flat pulls run no Spark job; a pull_many
    with misses runs exactly one, and a commit whose touched entities
    are all cached runs one (the table write)."""
    from crux_spark.node import Node

    node = Node(spark, schema="id string, v bigint")
    node.store.bulk_ingest(
        spark.createDataFrame(
            [(f"e{i}", i * 10 + d, t(1 + d)) for i in range(20) for d in range(3)],
            "id string, v long, vf timestamp",
        ),
        id_expr="id", doc_cols=["id", "v"], valid_from_col="vf",
    )
    db = node.db()
    past = node.db(valid_time=t(2))
    reads = {
        "entity": lambda: db.entity("e1"),
        "entity_tx": lambda: db.entity_tx("e1"),
        "asof": lambda: past.entity("e1"),
        "history": lambda: db.entity_history("e1"),
    }
    first = _jobs(spark)
    assert db.entity("e1") == {"id": "e1", "v": 12}
    assert first() == 1  # the one miss
    for name, read in reads.items():
        done = _jobs(spark)
        read()
        assert done() == 0, name
    assert past.entity("e1") == {"id": "e1", "v": 11}

    spec = [":v"]
    done = _jobs(spark)
    got = db.pull_many(["e1", "e2", "e3", "nope", "e2"], spec)
    assert done() == 1  # e2, e3 and nope missed: one job
    assert got == [{"v": 12}, {"v": 22}, {"v": 32}, None, {"v": 22}]
    done = _jobs(spark)
    assert db.pull_many(["e3", "nope", "e1"], spec) == [{"v": 32}, None, {"v": 12}]
    assert db.pull("e2", ["*"]) == {"eid": "e2", "id": "e2", "v": 22}
    assert done() == 0

    node.submit_tx([("put", {"id": e, "v": -1}) for e in ("e1", "e2")])
    done = _jobs(spark)
    node.await_tx()
    assert done() == 1
    done = _jobs(spark)
    assert node.db().entity("e2") == {"id": "e2", "v": -1}  # read-your-write
    assert done() == 0


def test_entity_cache_is_a_bounded_lru(spark, monkeypatch):
    """Past the entry bound the least recently used entry is evicted
    and counted; past the byte bound (summed doc_json length) too, and
    a history larger than the byte bound is not cached at all."""
    import crux_spark.bitemporal.store as st

    store = TxStore(spark)
    store.submit_tx([("put", {"id": e, "v": 1}) for e in "abcde"], tx_time=t(1))
    store.submit_tx([("put", {"id": "big", "pad": "x" * 500})], tx_time=t(1))
    store.commit()  # closed form: nothing cached
    monkeypatch.setattr(st, "ENTITY_CACHE_MAX_ENTRIES", 3)
    for e in "abc":
        store.entity(e)
    store.entity("a")  # a is now the most recently used
    store.entity("d")  # evicts b
    assert list(store._cache) == ["c", "a", "d"]
    stats = store.entity_cache_stats()
    assert (stats["evictions"], stats["entries"]) == (1, 3)
    assert stats["bytes"] == sum(
        len(v.doc_json) for e in "cad" for v in store._cache[e][0]
    )

    one = stats["bytes"] // 3  # one single-version "v": 1 doc
    monkeypatch.setattr(st, "ENTITY_CACHE_MAX_BYTES", 2 * one)
    store.entity("e")  # over the byte bound: evicts c and a
    assert list(store._cache) == ["d", "e"]
    assert store.entity_cache_stats()["evictions"] == 3
    assert store.entity("big")["pad"] == "x" * 500
    assert "big" not in store._cache
    assert store.entity_cache_stats()["bytes"] == 2 * one
