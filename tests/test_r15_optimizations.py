"""Focused pins for the r15 optimization-round internals changes:

- ts-suite CSV single-pass read: the declared raw schemas must equal
  what inferSchema derives from the generated files (so dropping the
  inference scan cannot change a single ingested value).
- Incremental index listeners: the lazy-checkpoint cadence and the
  handed-down ``max_tx`` watermark must leave state and results
  identical to the per-batch-eager / self-aggregated form.
- The listener dispatch helper must hand ``max_tx`` only to callables
  that can take it.
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo/tools")


def test_ts_csv_schema_matches_inference(spark, tmp_path):
    from ts_bench import (
        _RAW_CONDITIONS,
        _RAW_DEVICE_INFO,
        _RAW_LOCATIONS,
        _RAW_READINGS,
        gen_devices_csvs,
        gen_weather_csvs,
    )

    from crux_spark.sources.loaders import read_csv_documents

    ddir = os.path.join(str(tmp_path), "dev")
    wdir = os.path.join(str(tmp_path), "wx")
    gen_devices_csvs(spark, ddir, n_devices=6, n_times=5, step_s=120)
    gen_weather_csvs(spark, wdir, n_locations=4, n_times=5, step_s=90)
    for sub, base, ddl in [
        ("device_info", ddir, _RAW_DEVICE_INFO),
        ("readings", ddir, _RAW_READINGS),
        ("locations", wdir, _RAW_LOCATIONS),
        ("conditions", wdir, _RAW_CONDITIONS),
    ]:
        path = os.path.join(base, sub)
        inferred = read_csv_documents(spark, path, id_col="device_id")
        declared = read_csv_documents(
            spark, path, id_col="device_id", schema=ddl
        )
        assert inferred.schema == declared.schema, (
            sub, inferred.schema.simpleString(), declared.schema.simpleString()
        )
        cols = sorted(inferred.columns)
        a = sorted(map(tuple, inferred.select(cols).collect()))
        b = sorted(map(tuple, declared.select(cols).collect()))
        assert a == b, sub


def _ops_batch(spark, rows):
    """rows: (eid, tx_id, op, doc_json)."""
    return spark.createDataFrame(
        [(e, t, 0, op, t, dj, None, t, None) for e, t, op, dj in rows],
        "eid string, tx_id long, seq long, op string, tx_time long, "
        "doc_json string, expected_json string, valid_from long, "
        "valid_to long",
    )


def test_vector_index_cadence_and_max_tx_identical_results(spark, monkeypatch):
    import numpy as np

    from crux_spark.bitemporal import replay
    from crux_spark.operators.similarity import IncrementalVectorIndex

    cents = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    batches = [
        [("a", 1, "put", '{"embedding": [1.0, 0.1]}'),
         ("b", 2, "put", '{"embedding": [0.1, 1.0]}')],
        [("a", 3, "put", '{"embedding": [0.9, 0.2]}'),
         ("c", 4, "put", '{"embedding": [0.5, 0.5]}')],
        [("b", 5, "delete", None)],
    ]
    # eager-every-batch (the old behavior), watermark self-aggregated
    monkeypatch.setattr(replay, "CHECKPOINT_EVERY", 1)
    ref = IncrementalVectorIndex(spark, cents)
    for i, rows in enumerate(batches):
        ref.listener(i, _ops_batch(spark, rows))
    # lazy with cadence, watermark handed down
    monkeypatch.setattr(replay, "CHECKPOINT_EVERY", 8)
    idx = IncrementalVectorIndex(spark, cents)
    for i, rows in enumerate(batches):
        idx.listener(i, _ops_batch(spark, rows),
                     max_tx=max(t for _, t, _, _ in rows))
    assert idx.last_tx_id == ref.last_tx_id == 5
    want = sorted(map(tuple, ref.search([1.0, 0.0], k=3, nprobe=2).collect()))
    got = sorted(map(tuple, idx.search([1.0, 0.0], k=3, nprobe=2).collect()))
    assert got == want
    assert sorted(map(tuple, idx.cells.select("eid", "cell_id").collect())) \
        == sorted(map(tuple, ref.cells.select("eid", "cell_id").collect()))


def test_text_index_cadence_and_max_tx_identical_results(spark, monkeypatch):
    from crux_spark.bitemporal import replay
    from crux_spark.functions.text_search import IncrementalTextIndex

    batches = [
        [("d1", 1, "put", '{"text": "red fox jumps"}'),
         ("d2", 2, "put", '{"text": "red dog sleeps"}')],
        [("d1", 3, "put", '{"text": "blue fox runs"}'),
         ("d3", 4, "put", '{"text": "red red red"}')],
        [("d2", 5, "delete", None)],
    ]
    monkeypatch.setattr(replay, "CHECKPOINT_EVERY", 1)
    ref = IncrementalTextIndex(spark)
    for i, rows in enumerate(batches):
        ref.listener(i, _ops_batch(spark, rows))
    monkeypatch.setattr(replay, "CHECKPOINT_EVERY", 8)
    idx = IncrementalTextIndex(spark)
    for i, rows in enumerate(batches):
        idx.listener(i, _ops_batch(spark, rows),
                     max_tx=max(t for _, t, _, _ in rows))
    assert idx.last_tx_id == ref.last_tx_id == 5
    cols = ["term", "eid", "tf"]
    assert sorted(map(tuple, idx.postings.select(cols).collect())) \
        == sorted(map(tuple, ref.postings.select(cols).collect()))


def test_call_listener_signature_dispatch(spark):
    from crux_spark.bitemporal.store import _call_listener

    seen = []

    def plain(epoch, batch):
        seen.append(("plain", epoch))

    def with_max(epoch, batch, max_tx=None):
        seen.append(("with_max", epoch, max_tx))

    df = spark.range(1)
    _call_listener(plain, 1, df, 42)
    _call_listener(with_max, 2, df, 42)
    _call_listener(with_max, 3, df, None)
    assert seen == [("plain", 1), ("with_max", 2, 42), ("with_max", 3, None)]


def test_commit_hands_max_tx_to_index_listeners(spark):
    from crux_spark.bitemporal.store import TxStore

    store = TxStore(spark)
    calls = []

    def listener(epoch, batch, max_tx=None):
        calls.append(max_tx)

    store.index_listeners.append(listener)
    t1 = store.submit_tx([("put", {"id": "e1", "v": 1})])
    t2 = store.submit_tx([("put", {"id": "e2", "v": 2})])
    store.commit()
    assert calls == [max(t1, t2)]
    # an aborted trailing match tx must not advance the handed-down max
    t3 = store.submit_tx([("put", {"id": "e3", "v": 3})])
    t4 = store.submit_tx(
        [("match", "e1", {"id": "e1", "v": 999}),
         ("put", {"id": "e1", "v": 10})]
    )
    aborted = store.commit()
    assert t4 in aborted
    assert calls[-1] == t3


def test_commit_fast_path_equivalence(spark):
    """r15 session 2: the first commit into a provably-empty store whose
    batch is all unranged puts routes through the closed-form bulk
    splice (no probe job). The version rows must be IDENTICAL to the
    per-op splice, for vf=None (tx-time-valid) and explicit-vf puts
    alike; ineligible batches (matches, deletes, ranged puts, second
    commits) must still take the touched-entity splice and agree with
    the serial semantics."""
    import datetime as dt

    from crux_spark.bitemporal.store import VERSIONS_SCHEMA, TxStore

    def mk_ops():
        ts = lambda s: dt.datetime(2024, 1, 1, 0, 0, s, tzinfo=dt.timezone.utc)
        txs = []
        for i in range(6):
            txs.append((
                [("put", {"id": f"e{j}", "v": i * 10 + j, "w": {"n": j}})
                 for j in range(4)],
                ts(i + 1),
            ))
        # explicit valid_from puts, still strictly increasing per entity
        txs.append(([("put", {"id": "e0", "v": 99}, ts(30))], ts(10)))
        txs.append(([("put", {"id": "e1", "v": 98}, ts(31))], ts(11)))
        return txs

    cols = [f.name for f in VERSIONS_SCHEMA.fields]

    fast = TxStore(spark)
    for ops, t in mk_ops():
        fast.submit_tx(ops, tx_time=t)
    assert fast._versions_empty and fast._commit_fast_path_ok()
    assert fast.commit() == set()
    assert not fast._versions_empty

    slow = TxStore(spark)
    for ops, t in mk_ops():
        slow.submit_tx(ops, tx_time=t)
    slow._versions_empty = False  # force the touched-entity splice
    assert slow.commit() == set()

    a = sorted(tuple(r) for r in fast.versions.select(*cols).collect())
    b = sorted(tuple(r) for r in slow.versions.select(*cols).collect())
    assert a == b

    # second round over the SAME entities must route through the
    # touched-entity splice on both stores (flag cleared) and stay
    # identical —
    # including a match abort, which is fast-path-ineligible anyway
    def round2(store):
        t = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
        for j in range(4):
            store.submit_tx(
                [("put", {"id": f"e{j}", "v": 1000 + j})], tx_time=t)
        bad = store.submit_tx(
            [("match", "e0", {"id": "e0", "v": -1}),
             ("put", {"id": "e0", "v": 2000})],
            tx_time=t,
        )
        aborted = store.commit()
        assert aborted == {bad}

    round2(fast)
    round2(slow)
    a2 = sorted(tuple(r) for r in fast.versions.select(*cols).collect())
    b2 = sorted(tuple(r) for r in slow.versions.select(*cols).collect())
    assert a2 == b2


def test_commit_fast_path_ineligible_batches(spark):
    """Deletes, ranged puts, valid-time ties and matches must NOT take
    the closed form — and produce correct results via the splice."""
    import datetime as dt

    from crux_spark.bitemporal.store import TxStore

    t = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

    s = TxStore(spark)
    s.submit_tx([("put", {"id": "a", "v": 1})], tx_time=t)
    s.submit_tx([("delete", "a")], tx_time=t + dt.timedelta(seconds=1))
    assert not s._commit_fast_path_ok()
    s.commit()
    assert s.db().count() == 0  # delete applied

    s2 = TxStore(spark)
    s2.submit_tx(
        [("put", {"id": "a", "v": 1}, t, t + dt.timedelta(days=1))],
        tx_time=t,
    )
    assert not s2._commit_fast_path_ok()  # ranged put

    s3 = TxStore(spark)
    # two puts of the same entity in ONE tx: (tx, vf) tie -> ineligible
    s3.submit_tx(
        [("put", {"id": "a", "v": 1}), ("put", {"id": "a", "v": 2})],
        tx_time=t,
    )
    assert not s3._commit_fast_path_ok()
    s3.commit()
    import json as _json

    assert [_json.loads(r.doc_json)["v"] for r in s3.db().collect()] == [2]
