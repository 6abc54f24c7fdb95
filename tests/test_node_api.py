"""Node façade end-to-end (api.clj surface) + hypothesis property tests
for the splice algebra (the reference's test.check layer, SURVEY §5)."""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crux_spark.bitemporal import splice
from crux_spark.node import Node


def t(day):
    return dt.datetime(2022, 1, day)


@pytest.fixture()
def node(spark):
    n = Node(spark, schema="id string, name string, score long")
    n.submit_tx(
        [
            ("put", {"id": "u1", "name": "ann", "score": 10}),
            ("put", {"id": "u2", "name": "bob", "score": 25}),
            ("put", {"id": "u3", "name": "cid", "score": 40}),
        ],
        tx_time=t(1),
    )
    n.await_tx()
    return n


def test_node_q_and_entity(node):
    db = node.db(valid_time=t(2))
    res = db.q(
        {
            "find": ["?n"],
            "where": [["?u", ":name", "?n"], ["?u", ":score", "?s"], [[">", "?s", 20]]],
        }
    )
    assert sorted(r.n for r in res.collect()) == ["bob", "cid"]
    assert db.entity("u1")["name"] == "ann"
    assert db.pull("u2", [":name", ":score"]) == {"name": "bob", "score": 25}


def test_node_time_travel(node):
    node.submit_tx([("put", {"id": "u1", "name": "ann2", "score": 99})], tx_time=t(5))
    node.await_tx()
    assert node.db(valid_time=t(6)).entity("u1")["name"] == "ann2"
    assert node.db(valid_time=t(2)).entity("u1")["name"] == "ann"
    # tx-dimension travel: before the correction was known
    assert node.db(valid_time=t(6), tx=1).entity("u1")["name"] == "ann"


def test_node_speculative_with_tx(node):
    spec_db = node.with_tx([("put", {"id": "u9", "name": "zed", "score": 1})], tx_time=t(3))
    assert spec_db.entity("u9")["name"] == "zed"
    assert node.db(valid_time=t(4)).entity("u9") is None


def test_node_sql_view(node, spark):
    node.db(valid_time=t(2)).sql_view("users_v")
    rows = spark.sql("SELECT name FROM users_v ORDER BY name").collect()
    assert [r.name for r in rows] == ["ann", "bob", "cid"]


def test_node_status_and_tx_log(node, spark, tmp_path):
    # status / latest-tx watermarks (api.clj status, latest-completed-tx)
    st = node.status()
    assert st["latest_completed_tx"] == 1
    assert st["entities"] == 3 and st["versions"] >= 3
    assert node.latest_submitted_tx() == 1

    # entity-tx: tx metadata of the visible version
    etx = node.db(valid_time=t(2)).entity_tx("u1")
    assert etx["tx_id"] == 1 and etx["content_hash"]
    assert node.db(valid_time=t(2)).entity_tx("nope") is None

    # attribute-stats: one agg pass, attr -> non-null count
    stats = node.attribute_stats()
    assert stats[":name"] == 3 and stats[":score"] == 3

    # open-tx-log without ops: derived from versions
    node.submit_tx([("put", {"id": "u4", "name": "dee", "score": 5})], tx_time=t(3))
    node.await_tx()
    log = node.open_tx_log().collect()
    assert [r.tx_id for r in log] == [1, 2]
    assert log[0].n_versions >= 3 and log[1].n_versions >= 1
    assert [r.tx_id for r in node.open_tx_log(after_tx_id=1).collect()] == [2]

    # open-tx-log with ops: replays the WAL
    from crux_spark.bitemporal.store import TxStore
    from crux_spark.node import Node as _Node

    wal = str(tmp_path / "wal.jsonl")
    n2 = _Node(spark, schema="id string, name string")
    n2.store = TxStore(spark, wal_path=wal)
    n2.submit_tx([("put", {"id": "a", "name": "x"})], tx_time=t(1))
    n2.submit_tx([("delete", "a")], tx_time=t(2))
    n2.await_tx()
    ops = n2.open_tx_log(with_ops=True).collect()
    assert [(r.tx_id, r.op) for r in ops] == [(1, "put"), (2, "delete")]


def test_tx_committed_and_documents(node):
    # committed tx
    assert node.tx_committed(1) is True
    # aborted tx: failing match
    node.submit_tx([("match", "u1", {"id": "u1", "name": "WRONG", "score": 0}),
                    ("put", {"id": "u1", "name": "nope", "score": 0})])
    node.await_tx()
    assert node.tx_committed(2) is False
    # unknown/pending tx raises
    import pytest as _pytest
    with _pytest.raises(ValueError):
        node.tx_committed(99)

    # content-addressed doc fetch
    etx = node.db().entity_tx("u2")
    docs = node.documents([etx["content_hash"]])
    assert docs[etx["content_hash"]]["name"] == "bob"
    assert node.document(etx["content_hash"])["id"] == "u2"
    assert node.document("nope") is None


def test_db_without_valid_time_is_pinned_when_taken(spark):
    """A db taken without a valid time reads at the instant it was
    taken, so a db taken later sees a version whose valid time began in
    between, and the earlier db value never changes its answer."""
    import time

    node = Node(spark, schema="id string, name string")
    node.submit_tx([("put", {"id": "a", "name": "A"})])
    node.await_tx()
    start = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=6)
    node.submit_tx([("put", {"id": "f", "name": "F"}, start)])
    node.await_tx()
    query = {"find": ["?n"], "where": [["?e", ":name", "?n"]]}
    assert dt.datetime.now(dt.timezone.utc) < start, "commit outlasted the lead"
    before = node.db()
    assert sorted(r.n for r in before.q(query).collect()) == ["A"]
    wait = (start - dt.datetime.now(dt.timezone.utc)).total_seconds()
    time.sleep(max(0.0, wait) + 0.2)
    assert sorted(r.n for r in node.db().q(query).collect()) == ["A", "F"]
    assert sorted(r.n for r in before.q(query).collect()) == ["A"]


def test_db_entity_history_keeps_its_tx_basis(node):
    """A db value pinned at a tx reads entity_history as believed at that
    tx: a later commit neither adds its versions nor closes the ones the
    db saw, the same basis db.entity applies."""
    db = node.db(valid_time=t(5))
    before = db.entity_history("u1")
    node.submit_tx([("put", {"id": "u1", "name": "ann", "score": 11}, t(3))],
                   tx_time=t(4))
    node.await_tx()
    assert db.entity("u1")["score"] == 10
    assert db.entity_history("u1") == before
    assert [h["doc"]["score"] for h in before] == [10]
    assert [h["doc"]["score"] for h in
            db.entity_history("u1", with_corrections=True)] == [10]
    assert [h["doc"]["score"] for h in
            node.db().entity_history("u1")] == [10, 11]


# ---------------------------------------------------------------- hypothesis

_times = st.integers(min_value=0, max_value=20)


@st.composite
def op_sequences(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    ops = []
    for i in range(n):
        kind = draw(st.sampled_from(["put", "put_ranged", "delete", "delete_ranged"]))
        vf = draw(_times)
        if kind == "put":
            ops.append(("put", {"id": "e", "v": i}, vf, None))
        elif kind == "put_ranged":
            vt = draw(st.integers(min_value=vf + 1, max_value=25))
            ops.append(("put", {"id": "e", "v": i}, vf, vt))
        elif kind == "delete_ranged":
            vt = draw(st.integers(min_value=vf + 1, max_value=25))
            ops.append(("delete", None, vf, vt))
        else:
            ops.append(("delete", None, vf, None))
    return ops


def _model_visible(ops, at):
    """Brute-force model over integer time points, tracking WHICH op
    wrote each point: a ranged op covers [vf, vt); an unranged op
    overwrites the contiguous run of points written by the same op as
    the one visible at vf (tx.clj:84-93 take-while on (tx-time, tx-id,
    content-hash) — tx_test.clj "26.1 should overwrite the full range"),
    or runs to the next written point when vf falls in a gap."""
    timeline: dict[int, tuple] = {}  # point -> (writer op idx, doc|None)
    for idx, (kind, doc, vf, vt) in enumerate(ops):
        val = doc if kind == "put" else None
        if vt is not None:
            end = vt
        else:
            cur = timeline.get(vf)
            if cur is None:
                later = [p for p in timeline if p > vf]
                end = min(later) if later else 26
            else:
                end = vf
                while end < 26 and timeline.get(end, (None,))[0] == cur[0]:
                    end += 1
        for p in range(vf, end):
            timeline[p] = (idx, val)
    entry = timeline.get(at)
    return entry[1] if entry else None


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(ops=op_sequences(), at=_times)
def test_splice_matches_bruteforce_model(ops, at):
    hist = []
    for i, (kind, doc, vf, vt) in enumerate(ops):
        if kind == "put":
            hist = splice.put(hist, doc, i + 1, vf * 1000, vf * 1000, None if vt is None else vt * 1000)
        else:
            hist = splice.delete(hist, i + 1, vf * 1000, vf * 1000, None if vt is None else vt * 1000)
    got = splice.as_of(hist, at * 1000)
    expected = _model_visible(ops, at)
    if expected is None:
        assert got is None
    else:
        assert got is not None and got.doc_json == splice.json.dumps(
            expected, sort_keys=True, default=str
        )


def test_query_monitoring(spark):
    """active/recent/slowest-queries (api.clj; node.clj:71-86 cleaning
    semantics; current_queries_test.clj count/age expiration)."""
    import time

    from crux_spark.node import Node, _clean_completed, _clean_slowest

    node = Node(spark, schema="name string, v long",
                slow_queries_min_threshold=0.0)
    node.submit_tx([("put", {"id": "m1", "name": "a", "v": 1})])
    node.await_tx()
    db = node.db()
    rows = db.q_collect(
        {"find": ["?n"], "where": [["?e", ":name", "?n"]]}
    )
    assert [r.n for r in rows] == ["a"]
    assert node.active_queries() == []
    rec = node.recent_queries()
    assert len(rec) == 1 and rec[0]["status"] == "completed"
    assert node.slowest_queries()  # threshold 0 -> everything is slow
    # failed queries are recorded too
    try:
        db.q_collect({"find": ["?zzz"], "where": [["?e", ":name", "?n"]]})
    except Exception:
        pass
    assert node.recent_queries()[0]["status"] == "failed"

    # cleaning semantics mirror current_queries_test.clj: max-count takes
    # the newest / slowest; max-age drops expired entries
    now = time.time()
    qs = [
        {"query_id": i, "started_at": now - 10, "finished_at": now - off}
        for i, off in ((1, 0.0), (2, 5.0), (3, 10.0))
    ]
    assert [q["query_id"] for q in _clean_completed(qs, 8.0, 1)] == [1]
    assert [q["query_id"] for q in _clean_completed(qs, 8.0, 2)] == [1, 2]
    assert [q["query_id"] for q in _clean_completed(qs, 4.0, 5)] == [1]
    slow = [
        {"query_id": i, "started_at": now - 10, "finished_at": now - off}
        for i, off in ((3, 9.0), (2, 5.0), (1, 1.0))
    ]
    assert [q["query_id"] for q in _clean_slowest(slow, 8.0, 1)] == [1]
    assert [q["query_id"] for q in _clean_slowest(slow, 8.0, 2)] == [1, 2]


def test_db_by_tx_time(spark):
    """api.clj db(valid-time, tx-time): wall-clock tx-time resolves to
    the highest tx indexed at or before it."""
    import datetime as dt

    from crux_spark.node import Node

    node = Node(spark, schema="v long")
    node.submit_tx([("put", {"id": "x", "v": 1})], tx_time=dt.datetime(2020, 1, 1))
    node.await_tx()
    node.submit_tx([("put", {"id": "x", "v": 2})], tx_time=dt.datetime(2020, 6, 1))
    node.await_tx()
    assert node.db(tx_time=dt.datetime(2020, 3, 1)).entity("x")["v"] == 1
    assert node.db(tx_time=dt.datetime(2020, 6, 1)).entity("x")["v"] == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        node.db(tx=1, tx_time=dt.datetime(2020, 1, 1))

    # a tx-time ahead of the latest indexed tx raises (api_test.clj
    # test-db-throws-if-future-tx-time-provided-546)
    from crux_spark.node import NodeOutOfSyncError

    with _pytest.raises(NodeOutOfSyncError):
        node.db(tx_time=dt.datetime(2021, 1, 1))


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(ops=op_sequences())
def test_splice_full_bitemporal_rectangle(ops):
    """The TX DIMENSION of splicing: for every tx prefix k and every
    valid-time point, as-of over the FULL spliced history at tx=k must
    equal the model evaluated over only the first k ops — i.e. later
    txs clip tx_to without ever disturbing what earlier snapshots see.
    (A 2000-example mining run of this property passed clean.)"""
    hist = []
    for i, (kind, doc, vf, vt) in enumerate(ops):
        if kind == "put":
            hist = splice.put(hist, doc, i + 1, vf * 1000, vf * 1000,
                              None if vt is None else vt * 1000)
        else:
            hist = splice.delete(hist, i + 1, vf * 1000, vf * 1000,
                                 None if vt is None else vt * 1000)
    for k in range(len(ops) + 1):
        for at in range(0, 26):
            got = splice.as_of(hist, at * 1000, tx=k)
            expected = _model_visible(ops[:k], at)
            if expected is None:
                assert got is None, (ops, k, at)
            else:
                assert got is not None and got.doc_json == splice.json.dumps(
                    expected, sort_keys=True, default=str
                ), (ops, k, at)


def test_ingest_client(spark, tmp_path):
    """ingest_client_test.clj: a write-only client submits to the
    durable log + doc store; its open-tx-log shows the submitted events
    BEFORE any node indexes them; a node starting on the same log
    indexes and answers tx_committed/query."""
    from crux_spark.bitemporal import splice
    from crux_spark.bitemporal.store import TxStore
    from crux_spark.node import IngestClient

    wal = str(tmp_path / "wal.jsonl")
    ds = str(tmp_path / "docs.jsonl")
    client = IngestClient(spark, wal, doc_store=ds)
    doc = {"id": "ivan", "name": "Ivan"}
    tx = client.submit_tx([("put", doc)])
    assert tx == 1

    # write-only: no commit / query surface exists
    assert not hasattr(client, "commit")
    assert not hasattr(client, "entity")

    log = client.tx_log(with_ops=True).collect()
    assert [(r.tx_id, r.op, r.eid) for r in log] == [(1, "put", "ivan")]
    # the doc reached the content-addressed store at submit time
    h = splice.content_hash(doc)
    from crux_spark.bitemporal.docstore import open_doc_store
    assert open_doc_store(ds).fetch_docs([h]) == {h: doc}

    # reopening continues the id sequence (the log is the authority)
    again = IngestClient(spark, wal, doc_store=ds)
    assert again.submit_tx([("put", {"id": "petr", "name": "Petr"})]) == 2

    # a full node on the same log indexes everything submitted
    node_store = TxStore.recover(spark, wal, doc_store=ds)
    assert node_store.tx_committed(1) is True
    assert node_store.tx_committed(2) is True
    assert node_store.entity("ivan")["name"] == "Ivan"
    assert node_store.entity("petr")["name"] == "Petr"


def test_ingest_client_drains_pending(spark, tmp_path):
    """A write-only client never calls commit(), so submitted rows must
    not accumulate in the composed store's indexing backlog (unbounded
    memory + O(n^2) rescans in exactly the long-running dedicated-ingest
    scenario the class exists for). Durability is unaffected: the WAL
    entry and doc-store batch are written by submit_tx itself."""
    from crux_spark.bitemporal.store import TxStore
    from crux_spark.node import IngestClient

    wal = str(tmp_path / "wal.jsonl")
    client = IngestClient(spark, wal, doc_store=str(tmp_path / "docs.jsonl"))
    for i in range(5):
        client.submit_tx([("put", {"id": f"e{i}", "v": i})])
    assert client._store._pending == []
    # the durable log still carries every op; a node can index them all
    rec = TxStore.recover(spark, wal)
    assert rec.latest_completed_tx() == 5
    assert rec.entity("e4")["v"] == 4
