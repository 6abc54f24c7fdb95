"""Rule expansion + recursive fixpoint (query.clj:1209-1270, tabling :1079-1144).

Graph: a->b->c->d, e->f; plus cardinality-many `knows` arrays.
"""

import pytest
from pyspark.sql import types as T

from crux_spark.datalog import q


@pytest.fixture(scope="module")
def people_catalog(spark, catalog):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("age", T.LongType()),
            T.StructField("follows", T.ArrayType(T.StringType())),
        ]
    )
    data = [
        ("a", "Ann", 30, ["b"]),
        ("b", "Bob", 40, ["c"]),
        ("c", "Cid", 50, ["d"]),
        ("d", "Dee", 60, []),
        ("e", "Eve", 20, ["f"]),
        ("f", "Fay", 25, None),
    ]
    df = spark.createDataFrame(data, schema)
    catalog.add_documents("people", df, id_col="id")
    return catalog


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cardinality_many_explode(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?n", "?f"],
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":follows", "?f"],
            ],
        },
    )
    assert rows(res) == [("Ann", "b"), ("Bob", "c"), ("Cid", "d"), ("Eve", "f")]


def test_non_recursive_rule(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?n"],
            "rules": [
                [
                    ["adult", "?p"],
                    ["?p", ":age", "?a"],
                    [[">=", "?a", 30]],
                ]
            ],
            "where": [
                ["?p", ":name", "?n"],
                ["adult", "?p"],
            ],
        },
    )
    assert rows(res) == [("Ann",), ("Bob",), ("Cid",), ("Dee",)]


def test_recursive_rule_reachability(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?to"],
            "in": ["?from"],
            "rules": [
                [["reach", "?x", "?y"], ["?x", ":follows", "?y"]],
                [
                    ["reach", "?x", "?y"],
                    ["?x", ":follows", "?z"],
                    ["reach", "?z", "?y"],
                ],
            ],
            "where": [["reach", "?from", "?to"]],
        },
        "a",
    )
    assert rows(res) == [("b",), ("c",), ("d",)]


def test_recursive_rule_all_pairs(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?x", "?y"],
            "rules": [
                [["reach", "?x", "?y"], ["?x", ":follows", "?y"]],
                [
                    ["reach", "?x", "?y"],
                    ["?x", ":follows", "?z"],
                    ["reach", "?z", "?y"],
                ],
            ],
            "where": [["reach", "?x", "?y"]],
        },
    )
    assert rows(res) == sorted(
        [
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"),
            ("c", "d"),
            ("e", "f"),
        ]
    )


def test_mutual_recursion(people_catalog, spark):
    """Mutually recursive rules (query_test.clj datalog-paper programs):
    even/odd walk over the follows chain a->b->c->d."""
    res = q(
        people_catalog,
        {
            "find": ["?y"],
            "in": ["?start"],
            "rules": [
                # even-reach: zero or an even number of hops
                [["even-reach", "?x", "?y"], ["?x", ":name", "_"], [["identity", "?x"], "?y"]],
                [
                    ["even-reach", "?x", "?y"],
                    ["?x", ":follows", "?z"],
                    ["odd-reach", "?z", "?y"],
                ],
                [
                    ["odd-reach", "?x", "?y"],
                    ["?x", ":follows", "?z"],
                    ["even-reach", "?z", "?y"],
                ],
            ],
            "where": [["even-reach", "?start", "?y"]],
        },
        "a",
    )
    # a=0 hops, c=2 hops (a->b->c); b,d are odd distances
    assert sorted(r.y for r in res.collect()) == ["a", "c"]


def test_correlated_not_with_pred(people_catalog):
    # not over a predicate on an outer-bound var (query_test.clj not corpus)
    res = q(
        people_catalog,
        {
            "find": ["?n"],
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":age", "?a"],
                ["not", [[">", "?a", 35]]],
            ],
        },
    )
    assert sorted(r.n for r in res.collect()) == ["Ann", "Eve", "Fay"]


def test_correlated_or_mixing_pred_and_triple(people_catalog):
    # or branch = pure pred over outer var; other branch = triple pattern
    res = q(
        people_catalog,
        {
            "find": ["?n"],
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":age", "?a"],
                [
                    "or-join",
                    ["?p"],
                    ["and", ["?p", ":age", "?a2"], [[">=", "?a2", 60]]],
                    ["?p", ":follows", "b"],
                ],
            ],
        },
    )
    # Dee (age 60) or follows-b (Ann)
    assert sorted(r.n for r in res.collect()) == ["Ann", "Dee"]


def test_pull_in_find(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?n", ["pull", "?p", [":age", ":name"], "doc"]],
            "where": [["?p", ":name", "?n"], ["?p", ":age", "?a"], [["<", "?a", 35]]],
        },
    )
    rows = {r.n: r.doc.asDict() for r in res.collect()}
    assert rows["Ann"] == {"age": 30, "name": "Ann"}
    assert set(rows) == {"Ann", "Eve", "Fay"}


def test_rule_call_with_literal_arg(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?y"],
            "rules": [
                [["reach", "?x", "?y"], ["?x", ":follows", "?y"]],
                [
                    ["reach", "?x", "?y"],
                    ["?x", ":follows", "?z"],
                    ["reach", "?z", "?y"],
                ],
            ],
            "where": [["reach", "b", "?y"]],  # literal entity in rule call
        },
    )
    assert sorted(r.y for r in res.collect()) == ["c", "d"]


def test_tuple_in_binding(people_catalog):
    res = q(
        people_catalog,
        {
            "find": ["?n"],
            "in": [["?min", "?max"]],  # tuple binding
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":age", "?a"],
                [[">=", "?a", "?min"]],
                [["<=", "?a", "?max"]],
            ],
        },
        (30, 45),
    )
    assert sorted(r.n for r in res.collect()) == ["Ann", "Bob"]


def test_pred_tuple_binding(people_catalog):
    # [(vector ?a ?n) [?x ?y]] destructures the returned tuple positionally
    res = q(
        people_catalog,
        {
            "find": ["?x", "?y"],
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":age", "?a"],
                [["tuple", "?a", "?n"], ["?x", "?y"]],
                [[">", "?x", 45]],
            ],
        },
    )
    assert rows(res) == [(50, "Cid"), (60, "Dee")]


def test_pred_relation_binding(people_catalog):
    # [(f ?x) [[?a ?b]]] binds a relation: explode + positional destructure
    res = q(
        people_catalog,
        {
            "find": ["?n", "?pair"],
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":age", "?a"],
                [["vector", ["vector", "?a", "?a"]], [["?pair", "_"]]],
                [["=", "?n", "Ann"]],
            ],
        },
    )
    assert rows(res) == [("Ann", 30)]


def test_pred_tuple_binding_unifies_bound_var(people_catalog):
    # ?a is already bound -> positional element must UNIFY, not rebind
    res = q(
        people_catalog,
        {
            "find": ["?n"],
            "where": [
                ["?p", ":name", "?n"],
                ["?p", ":age", "?a"],
                [["tuple", 30, "?n"], ["?a", "_"]],
            ],
        },
    )
    assert rows(res) == [("Ann",)]


def test_non_stratified_negation_raises(people_catalog):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-stratified"):
        q(
            people_catalog,
            {
                "find": ["?x"],
                "rules": [
                    [["odd", "?x"], ["?x", ":follows", "?y"], ["not", ["odd", "?y"]]],
                    [["odd", "?x"], ["?x", ":name", "Dee"]],
                ],
                "where": [["odd", "?x"]],
            },
        ).collect()


def test_query_timeout_interrupts(people_catalog):
    import pytest as _pytest

    from crux_spark.datalog import QueryTimeoutError, q_eager

    # a cross-join heavy enough to outlive a 1ms budget
    slow = {
        "find": [["count", "?a"]],
        "where": [
            ["?p", ":age", "?a"],
            ["?q", ":age", "?b"],
            ["?r", ":age", "?c"],
            ["?s", ":age", "?d"],
        ],
        "timeout": 1,
    }
    with _pytest.raises(QueryTimeoutError):
        q_eager(people_catalog, slow)
    # and a sane budget completes eagerly
    ok = dict(slow, timeout=120000)
    assert q_eager(people_catalog, ok)[0][0] == 6 ** 4


def test_calling_rule_twice_44(spark):
    """query_test.clj:2393: the same rule invoked twice with different
    literal args (+ a callable :in arg used as a predicate) compiles and
    runs; only one literal matches, so the conjunction is empty."""
    from pyspark.sql import types as T

    from crux_spark import Catalog
    from crux_spark.datalog import q

    c = Catalog(spark)
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("attr", T.StringType())]
    )
    c.add_documents("docs44", spark.createDataFrame([("1", "a")], schema), id_col="id")
    res = q(
        c,
        {
            "find": ["?p"],
            "where": [
                ["rule", "?p", "?fn", "a"],
                ["rule", "?p", "?fn", "b"],
            ],
            "rules": [
                [
                    ["rule", "?p", "?fn", "?x"],
                    ["?p", ":attr", "?x"],
                    [["?fn", "?x"]],
                ]
            ],
            "in": ["?fn"],
        },
        lambda x: True,
    )
    assert res.count() == 0  # only "a" exists; "b" branch is empty


def test_mutually_recursive_rules_exact(spark):
    """query_test.clj:2405 test-mutually-recursive-rules: exact result
    set of the f1/f2 mutual recursion over a 6-node chain."""
    from pyspark.sql import types as T

    from crux_spark import Catalog
    from crux_spark.datalog import q

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("f1", T.LongType()),
            T.StructField("f2", T.LongType()),
        ]
    )
    rows = [(0, 1, None), (1, None, 2), (2, 3, None), (3, None, 4), (4, 5, None), (5, None, 6)]
    c = Catalog(spark)
    c.add_documents("chain", spark.createDataFrame(rows, schema), id_col="id")
    res = q(
        c,
        {
            "find": ["?e1", "?e2"],
            "where": [["f1", "?e1", "?e2"]],
            "rules": [
                [["f1", "?e1", "?e2"], ["?e1", ":f1", "?e2"]],
                [["f1", "?e1", "?e2"], ["?t", ":f1", "?e2"], ["f2", "?e1", "?t"]],
                [["f2", "?e1", "?e2"], ["?e1", ":f2", "?e2"]],
                [["f2", "?e1", "?e2"], ["?t", ":f2", "?e2"], ["f1", "?e1", "?t"]],
            ],
        },
    )
    got = {(int(r[0]), int(r[1])) for r in res.collect()}
    assert got == {
        (0, 1), (0, 3), (0, 5), (1, 3), (1, 5), (2, 3), (2, 5), (3, 5), (4, 5),
    }


def test_rules_false_arguments(spark):
    """query_test.clj:2433 datascript-test-rules-false-arguments
    (datascript #218): a literal false rule argument binds correctly."""
    from pyspark.sql import types as T

    from crux_spark import Catalog
    from crux_spark.datalog import q

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("attr", T.BooleanType())]
    )
    c = Catalog(spark)
    c.add_documents(
        "flags", spark.createDataFrame([(1, True), (2, False)], schema), id_col="id"
    )
    rules = [[["is", "?id", "?val"], ["?id", ":attr", "?val"]]]
    for val, want in ((True, {1}), (False, {2})):
        res = q(
            c,
            {"find": ["?id"], "where": [["is", "?id", val]], "rules": rules},
        )
        assert {int(r[0]) for r in res.collect()} == want


@pytest.mark.full
def test_deep_chain_transitive_closure_doubling(spark, monkeypatch):
    """A 300-deep chain exceeds any linear fixpoint's iteration budget.
    Unbound, the TC-shape specialization evaluates the whole closure by
    relation squaring in ~log2(300) rounds (_tc_doubling); with the
    start bound through :in, the call site walks a seeded BFS from it
    (_tc_seeded). Both right- and left-linear forms take both paths."""
    from pyspark.sql import types as T

    from crux_spark import Catalog
    from crux_spark.datalog import q
    from crux_spark.datalog.compile import Compiler

    squared = []
    tc_doubling = Compiler._tc_doubling

    def spy(self, name):
        rel = tc_doubling(self, name)
        squared.append(rel is not None)
        return rel

    monkeypatch.setattr(Compiler, "_tc_doubling", spy)
    cat = Catalog(spark)
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("next", T.StringType())]
    )
    cat.add_documents(
        "chain",
        spark.createDataFrame([(f"n{i}", f"n{i+1}") for i in range(300)], schema),
        id_col="id",
    )
    for rules in (
        [[["r", "?x", "?y"], ["?x", ":next", "?y"]],
         [["r", "?x", "?y"], ["?x", ":next", "?z"], ["r", "?z", "?y"]]],
        [[["r", "?x", "?y"], ["?x", ":next", "?y"]],
         [["r", "?x", "?y"], ["r", "?x", "?z"], ["?z", ":next", "?y"]]],
    ):
        squared.clear()
        res = q(cat, {"find": ["?y"], "in": ["?s"], "rules": rules,
                      "where": [["r", "?s", "?y"]]}, "n0")
        assert res.count() == 300
        assert squared == []
        res = q(cat, {"find": ["?x", "?y"], "rules": rules,
                      "where": [["r", "?x", "?y"]]})
        assert res.count() == 300 * 301 // 2
        assert squared == [True]


REACH_RULES = [
    [["reach", "?x", "?y"], ["?x", ":follows", "?y"]],
    [["reach", "?x", "?y"], ["?x", ":follows", "?z"], ["reach", "?z", "?y"]],
]


@pytest.fixture()
def people_only_catalog(spark):
    """An ISOLATED catalog holding just the people table: the seeded-
    closure tests sweep the var-attr EAV scan and assert exact result
    sets, so the session-shared catalog (mutated by other modules)
    would leak foreign tables into the closure."""
    from crux_spark import Catalog

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("age", T.LongType()),
            T.StructField("follows", T.ArrayType(T.StringType())),
        ]
    )
    data = [
        ("a", "Ann", 30, ["b"]),
        ("b", "Bob", 40, ["c"]),
        ("c", "Cid", 50, ["d"]),
        ("d", "Dee", 60, []),
        ("e", "Eve", 20, ["f"]),
        ("f", "Fay", 25, None),
    ]
    cat = Catalog(spark)
    cat.add_documents("people", spark.createDataFrame(data, schema), id_col="id")
    return cat


def _spy_tc_seeded(monkeypatch) -> list:
    """Record each Compiler._tc_seeded call that took the seeded path
    (returned a relation rather than None)."""
    from crux_spark.datalog.compile import Compiler

    taken = []
    real = Compiler._tc_seeded

    def spy(self, *args, **kwargs):
        rel = real(self, *args, **kwargs)
        if rel is not None:
            taken.append(args)
        return rel

    monkeypatch.setattr(Compiler, "_tc_seeded", spy)
    return taken


def test_seeded_closure_bound_endpoint(people_only_catalog, monkeypatch):
    """A TC-shaped rule invoked with a BOUND endpoint takes the seeded
    BFS path (demand-driven — the full closure of a dense graph is
    TH(V^2) rows and squaring composes TH(V^3) pairs; found by the
    WatDiv 10x smoke), and its answers must equal the full-closure
    path's, both directions."""
    taken = _spy_tc_seeded(monkeypatch)

    # full closure (unbound call -> squaring) as the oracle
    full = rows(
        q(
            people_only_catalog,
            {"find": ["?x", "?y"],
             "where": [["reach", "?x", "?y"]],
             "rules": REACH_RULES},
        )
    )
    assert not taken  # the unbound call squares
    fwd = rows(
        q(
            people_only_catalog,
            {"find": ["?y"],
             "where": [["reach", "a", "?y"]],
             "rules": REACH_RULES},
        )
    )
    assert fwd == sorted({(y,) for x, y in full if x == "a"})
    assert fwd == [("b",), ("c",), ("d",)]
    assert taken  # path engaged

    back = rows(
        q(
            people_only_catalog,
            {"find": ["?x"],
             "where": [["reach", "?x", "d"]],
             "rules": REACH_RULES},
        )
    )
    assert back == sorted({(x,) for x, y in full if y == "d"})
    assert back == [("a",), ("b",), ("c",)]

    # both endpoints bound: existence via the seeded relation + filter
    hit = rows(
        q(
            people_only_catalog,
            {"find": ["?n"],
             "where": [
                 ["reach", "a", "?m"], ["?m", ":name", "?n"],
                 [["=", "?m", "d"]],
             ],
             "rules": REACH_RULES},
        )
    )
    assert hit == [("Dee",)]
    # disconnected seed: e reaches only f
    only_f = rows(
        q(
            people_only_catalog,
            {"find": ["?y"],
             "where": [["reach", "e", "?y"]],
             "rules": REACH_RULES},
        )
    )
    assert only_f == [("f",)]


def test_labeled_seeded_closure(people_only_catalog, monkeypatch):
    """Generalized (labeled) TC seeding: a 3-ary closure rule carrying
    a label param (the SPARQL variable-predicate closure shape) invoked
    with a bound transit endpoint walks per-label graphs from the seed;
    answers must equal the full bottom-up fixpoint's."""
    taken = _spy_tc_seeded(monkeypatch)

    rules = [
        [["lreach", "?a", "?x", "?y"], ["?x", "?a", "?y"]],
        [["lreach", "?a", "?x", "?y"],
         ["?x", "?a", "?z"], ["lreach", "?a", "?z", "?y"]],
    ]
    full = rows(
        q(
            people_only_catalog,
            {"find": ["?a", "?x", "?y"],
             "where": [["lreach", "?a", "?x", "?y"]],
             "rules": rules},
        )
    )
    assert not taken
    seeded = rows(
        q(
            people_only_catalog,
            {"find": ["?a", "?y"],
             "where": [["lreach", "?a", "a", "?y"]],
             "rules": rules},
        )
    )
    assert taken
    assert seeded == sorted({(a, y) for a, x, y in full if x == "a"})
    # per-label closure: follows-chains from a, and a's scalar attrs
    assert (":follows", "d") in seeded       # 3-hop follows chain
    assert (":name", "Ann") in seeded        # 1-step attr edge
    assert (":follows", "f") not in seeded   # e's chain never leaks


def test_seeded_closure_rounds_broadcast(spark, monkeypatch):
    """Regression guard: every seeded-closure round must broadcast BOTH
    the frontier probe and the reached anti-join side when they are
    small — the r7 hint silently stopped firing when a byte guard
    trusted optimizer sizeInBytes (origin-plan default stats), and every
    round paid two sort-merge shuffles of E. The final frame's plan shows
    none of the rounds, so this reads each round frame's pre-AQE plan as
    the loop checkpoints it."""
    from crux_spark import Catalog
    from crux_spark.datalog import q
    from crux_spark.plans import physical_plan

    cat = Catalog(spark)
    edges = [(f"m{i}", f"m{i+1}") for i in range(12)]
    cat.add_documents(
        "g2", spark.createDataFrame(edges, "_id string, nxt string")
    )
    plans = []
    frame_cls = type(spark.range(0))
    real = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(physical_plan(self, executed=False))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    n = q(
        cat,
        {
            "find": ["?v"],
            "where": [["reach2", "m0", "?v"]],
            "rules": [
                [["reach2", "?x", "?y"], ["?x", ":nxt", "?y"]],
                [
                    ["reach2", "?x", "?y"],
                    ["?x", ":nxt", "?z"],
                    ["reach2", "?z", "?y"],
                ],
            ],
        },
    ).count()
    assert n == 12
    rounds = [p for p in plans if "LeftAnti" in p]
    assert rounds, plans
    first = rounds[0]
    assert first.count("BroadcastHashJoin") == 2, first
    assert "SortMergeJoin" not in first, first
