"""Every oracle accepts the right answer and flags a corrupted one."""

import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import oracles
import tpch
from model import Model, Timeline

D = gen.DAY


def test_timeline_open_put_holds_until_next_change():
    tl = Timeline()
    tl.write({"v": 1}, 10 * D)
    tl.write({"v": 3}, 30 * D)
    tl.write({"v": 2}, 20 * D)  # back-dated correction
    assert [tl.at(t * D) for t in (5, 15, 25, 35)] == [None, {"v": 1}, {"v": 2}, {"v": 3}]


def test_timeline_ranged_put_restores_previous_value():
    tl = Timeline()
    tl.write({"v": 1}, 10 * D)
    tl.write({"v": 2}, 20 * D)
    tl.write({"v": 9}, 15 * D, 25 * D)  # covers the change at 20, then restores v2
    assert [tl.at(t * D) for t in (12, 16, 22, 26)] == [{"v": 1}, {"v": 9}, {"v": 9}, {"v": 2}]


def test_timeline_delete():
    tl = Timeline()
    tl.write({"v": 1}, 10 * D)
    tl.write(None, 20 * D)
    assert tl.at(15 * D) == {"v": 1} and tl.at(25 * D) is None


def test_doc_oracle_flags_corruption():
    assert oracles.check_read("doc", {"id": "a", "x": 1, "crux.json/types": []}, {"id": "a", "x": 1})
    assert not oracles.check_read("doc", {"id": "a", "x": 2}, {"id": "a", "x": 1})
    assert not oracles.check_read("doc", None, {"id": "a", "x": 1})


def test_history_oracle_flags_corruption():
    want = [(10 * D, {"v": 1}), (20 * D, {"v": 2})]
    got = [
        {"valid_from": gen.from_us(10 * D), "doc": {"v": 1}, "deleted": False},
        {"valid_from": gen.from_us(20 * D), "doc": {"v": 2}, "deleted": False},
    ]
    assert oracles.check_read("history", got, want)
    got[1]["doc"] = {"v": 3}
    assert not oracles.check_read("history", got, want)
    got[1]["doc"], got[1]["deleted"] = {"v": 2}, True
    assert not oracles.check_read("history", got, want)


def test_rows_and_pull_oracles_flag_corruption():
    assert oracles.check_read("rows", [("e1", 5), ("e0", 3)], [("e0", 3), ("e1", 5)])
    assert not oracles.check_read("rows", [("e1", 5)], [("e0", 3), ("e1", 5)])
    assert oracles.check_read("pull", [{":name": "n", ":score": 1}, None], [{"name": "n", "score": 1}, None])
    assert not oracles.check_read("pull", [{":name": "n", ":score": 2}, None],
                                  [{"name": "n", "score": 1}, None])


def test_model_snapshot_follows_ops():
    m = Model()
    m.apply(("put", {"id": "a", "v": 1}, 10 * D, None))
    m.apply(("put", {"id": "b", "v": 1}, 10 * D, None))
    m.apply(("delete", "b", 20 * D, None))
    assert m.snapshot(15 * D) == {"a": {"id": "a", "v": 1}, "b": {"id": "b", "v": 1}}
    assert m.snapshot(25 * D) == {"a": {"id": "a", "v": 1}}


def test_same_rows_tolerates_float_noise_only():
    want = [("a", 1.0, 3), ("b", 2.5, 4)]
    assert oracles.same_rows([("b", 2.5 + 1e-12, 4), ("a", 1.0, 3)], want)
    assert not oracles.same_rows([("b", 2.51, 4), ("a", 1.0, 3)], want)
    assert not oracles.same_rows([("a", 1.0, 3)], want)
    assert not oracles.same_rows([("a", 1.0, 3), ("b", 2.5, 5)], want)


@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    d = tmp_path_factory.mktemp("tpch")
    con = duckdb.connect()
    for name, pdf in gen.tpch_tables(5, 0.1).items():
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    readings = os.path.join(d, "readings.parquet")
    pq.write_table(pa.Table.from_pandas(gen.devices(5, 10, 12), preserve_index=False), readings)
    con.execute(f"CREATE VIEW readings AS SELECT * FROM read_parquet('{readings}')")
    yield con
    con.close()


def test_duckdb_oracle_runs_every_query_and_flags_corruption(duck):
    import random

    params = gen.tpch_params(random.Random(5))
    for name in tpch.QUERIES:
        want = oracles.duck_expected(duck, name, params[name])
        assert oracles.same_rows(list(want), want)
        if want and any(isinstance(v, float) for v in want[0]):
            i = next(k for k, v in enumerate(want[0]) if isinstance(v, float))
            bad = [tuple(v * 1.01 if k == i else v for k, v in enumerate(want[0]))] + want[1:]
            assert not oracles.same_rows(bad, want), name
    inst = gen.device_instants(random.Random(5), 12)
    latest = oracles.duck_expected(duck, "sql_vt", [inst["sql_vt"]])
    assert latest and not oracles.same_rows(latest[1:], latest)
    rollup = oracles.duck_expected(duck, "history_scan", [inst["scan_from"], inst["scan_to"]])
    assert rollup and isinstance(rollup[0][0], dt.datetime)


def pipeline_answer(pdf, truth):
    """A perfect pass: what a correct pipeline returns for the planted corpus."""
    pairs = []
    for c in truth["clusters"]:
        pairs += [(a, b, 1.0) for i, a in enumerate(c) for b in c[i + 1:]]
    return {
        "analyze": [(i, len(t.split())) for i, t in zip(pdf["doc_id"], pdf["text"])],
        "exact": [list(e) for e in truth["exact"]],
        "pairs": pairs,
        "components": [(i, min(c)) for c in truth["clusters"] for i in c],
    }


def test_dedup_oracle_flags_each_corruption():
    pdf, truth = gen.corpus(4, 300)
    good = pipeline_answer(pdf, truth)
    verdict = oracles.check_dedup(good, pdf, truth)
    assert verdict["problems"] == [] and verdict["planted_recall"] == 1.0
    assert verdict["pair_precision"] == 1.0

    false_pair = dict(good, pairs=good["pairs"] + [(truth["clusters"][0][0], truth["clusters"][1][0], 0.9)])
    assert oracles.check_dedup(false_pair, pdf, truth)["problems"]
    missing_group = dict(good, exact=good["exact"][1:])
    assert oracles.check_dedup(missing_group, pdf, truth)["problems"]
    c0, c1 = truth["clusters"][0], truth["clusters"][1]
    merged = dict(good, components=[(i, min(c0)) for i in c0 + c1]
                  + [(i, min(c)) for c in truth["clusters"][2:] for i in c])
    assert oracles.check_dedup(merged, pdf, truth)["problems"]
    bad_tokens = dict(good, analyze=[(i, n + 1) for i, n in good["analyze"]])
    assert oracles.check_dedup(bad_tokens, pdf, truth)["problems"]
    split = dict(good, components=[(i, i) for c in truth["clusters"] for i in c])
    verdict = oracles.check_dedup(split, pdf, truth)
    assert verdict["problems"] and verdict["planted_recall"] == 0.0
