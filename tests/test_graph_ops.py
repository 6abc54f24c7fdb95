"""Connected components / dedup-cluster resolution
(crux_spark/operators/graph.py)."""

import pytest

from crux_spark.operators import graph


def cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        r.id: r.component
        for r in graph.connected_components(df).collect()
    }
    # the distributed label-propagation path must agree with the
    # driver-side union-find fast path
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "DRIVER_LIMIT_EDGES", 0)
        dist = {
            r.id: r.component
            for r in graph.connected_components(df).collect()
        }
    assert fast == dist
    return fast


def test_connected_components_basic(spark):
    # two components: {1,2,3,4} chained, {10,11}
    got = cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    # a 200-node chain converges logarithmically, not in 200 rounds
    got = cc(spark, [(i, i + 1) for i in range(200)])
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_connected_components_transitive_merge(spark):
    # A~B and B~C cluster A,C together even though never compared
    got = cc(spark, [(5, 9), (9, 2), (7, 8)])
    assert got[5] == got[9] == got[2] == 2
    assert got[7] == got[8] == 7


def test_dedup_keep_list(spark):
    pairs = spark.createDataFrame(
        [(3, 7), (7, 12), (20, 21)], "id_a long, id_b long"
    )
    keep = {
        r.doc_id: r.keep_id for r in graph.dedup_keep_list(pairs).collect()
    }
    assert keep == {3: 3, 7: 3, 12: 3, 20: 20, 21: 20}
