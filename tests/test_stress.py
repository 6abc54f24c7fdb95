"""Port of the reference's TPC-H stress suite
(crux-bench/src/crux/bench/tpch_stress_test.clj): one query binding all
16 lineitem attributes of an entity (each with an identity-predicate
return binding, as the reference's query builder emits), executed many
times CONCURRENTLY from a thread pool against a single node.

What it stresses here: (1) the 16-attribute pattern group must compile
to ONE pruned scan of lineitem, not 16 self-joins; (2) the compiler
and its gateway-lifetime expression memo must be safe under concurrent
query submission on one SparkSession (the reference runs its stress through a thread pool —
bench/with-thread-pool)."""

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from crux_spark.datalog import q

# the reference binds all 16 TPC-H lineitem fields; the driver's
# synthetic lineitem carries these 11 — same stress shape (every
# available attribute of the entity bound + identity-returned)
FIELDS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


def _stress_query(field_count: int = len(FIELDS)) -> dict:
    where = []
    for i, a in enumerate(FIELDS[:field_count]):
        v = f"?v{i}"
        where.append(["?e", f":{a}", v])
        # the reference interleaves [(identity v) gensym] predicate
        # bindings — a per-field pass-through return binding
        where.append([["identity", v], f"?g{i}"])
    return {"find": ["?e"], "where": where}


def _n_entities(catalog) -> int:
    # find [?e] is SET semantics: distinct entity ids — the synthetic
    # lineitem's (orderkey, linenumber) pkey is deliberately non-unique
    return (
        catalog.table("lineitem")
        .select("l_orderkey", "l_linenumber")
        .distinct()
        .count()
    )


def test_stress_query_single_scan(catalog):
    """All attribute patterns on one entity var = ONE lineitem scan."""
    df = q(catalog, _stress_query())
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # one relation, zero joins: the pattern group collapsed
    assert "Join" not in plan, plan
    assert plan.count("Relation") == 1, plan
    expected = _n_entities(catalog)
    assert df.count() == expected


def test_stress_concurrent_queries(catalog):
    """query-stress: the wide query through a thread pool (the
    reference's with-thread-pool protocol, 50 queries; 12 here for CI
    wall) — every run returns the identical count, and varying
    field_count across threads exercises concurrent compilation."""
    expected = _n_entities(catalog)

    def run(idx: int) -> int:
        fc = len(FIELDS) if idx % 2 == 0 else 5 + (idx % 6)
        return q(catalog, _stress_query(fc)).count()

    with ThreadPoolExecutor(max_workers=6) as pool:
        counts = list(pool.map(run, range(12)))
    assert counts == [expected] * 12, counts


def test_stress_query_distinct_entities(catalog):
    """The find is [?e] under set semantics: results are distinct
    entity ids, one per lineitem row (pkey = orderkey+linenumber)."""
    df = q(catalog, _stress_query(4))
    n = df.count()
    assert n == df.select("e").distinct().count()
