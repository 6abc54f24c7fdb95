"""The Spark-vs-DuckDB gate corpus.

Each entry: name -> fn(spark, sf_dir) -> DataFrame, with a DuckDB oracle in
ORACLES; ``tests/test_gates.py`` runs every pair, and
``__spark_entry__.queries()`` / ``oracle_sql()`` expose them. The TPC-H
shapes mirror the reference's Datalog TPC-H suite
(crux-test/src/crux/fixtures/tpch.clj:116-621), adapted to the columns the
synthetic test tables carry (FIXTURES.md vs TESTDATA.md). Most run
through the Datalog -> DataFrame compiler to exercise the engine's query
surface; a few use the SQL/DataFrame surface directly (the reference's
Calcite path, SURVEY.md §3.3, which we replace with spark.sql).

Float discipline: every float aggregate is rounded identically on both
sides (Spark + oracle) so the value comparison is stable.
Integer discipline: DuckDB sum() over integers returns HUGEINT (-> float
in pandas) while Spark returns bigint — wrap every integer-sum oracle in
CAST(... AS BIGINT). count(*) is already BIGINT in both. Array results:
encode as deterministic comma-joined strings on BOTH sides — the
comparison rejects array, map and struct columns.
"""

from __future__ import annotations

import contextlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crux_spark.bitemporal import latest_as_of
from crux_spark.catalog import Catalog
from crux_spark.datalog import q

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_CATALOGS: dict[tuple[int, str], Catalog] = {}


def catalog_for(spark: SparkSession, sf_dir: str) -> Catalog:
    key = (id(spark), sf_dir)
    if key not in _CATALOGS:
        _CATALOGS[key] = Catalog(spark, sf_dir)
    return _CATALOGS[key]


def register(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def _round(df: DataFrame, spec: dict[str, int]) -> DataFrame:
    for c, n in spec.items():
        df = df.withColumn(c, F.round(F.col(c), n))
    return df


# ---------------------------------------------------------------------------
# TPC-H Q1 — pricing summary (agg-heavy full scan; tpch.clj:117-143)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                          AS sum_qty,
           round(sum(l_extendedprice), 2)                                     AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
           round(avg(l_quantity), 6)                                          AS avg_qty,
           round(avg(l_extendedprice), 6)                                     AS avg_price,
           round(avg(l_discount), 6)                                          AS avg_disc,
           count(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [
                "?flag",
                "?status",
                ["sum", "?qty", "sum_qty"],
                ["sum", "?price", "sum_base_price"],
                ["sum", "?disc_price", "sum_disc_price"],
                ["sum", "?charge", "sum_charge"],
                ["avg", "?qty", "avg_qty"],
                ["avg", "?price", "avg_price"],
                ["avg", "?disc", "avg_disc"],
                ["count", "?qty", "count_order"],
            ],
            "where": [
                ["?l", ":l_returnflag", "?flag"],
                ["?l", ":l_linestatus", "?status"],
                ["?l", ":l_quantity", "?qty"],
                ["?l", ":l_extendedprice", "?price"],
                ["?l", ":l_discount", "?disc"],
                ["?l", ":l_tax", "?tax"],
                ["?l", ":l_shipdate", "?sd"],
                [["<=", "?sd", "1998-09-02"]],
                [["*", "?price", ["-", 1, "?disc"]], "?disc_price"],
                [["*", ["*", "?price", ["-", 1, "?disc"]], ["+", 1, "?tax"]], "?charge"],
            ],
        },
    )
    df = df.withColumnRenamed("flag", "l_returnflag").withColumnRenamed(
        "status", "l_linestatus"
    )
    return _round(
        df,
        {
            "sum_qty": 2,
            "sum_base_price": 2,
            "sum_disc_price": 2,
            "sum_charge": 2,
            "avg_qty": 6,
            "avg_price": 6,
            "avg_disc": 6,
        },
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 — shipping priority (join + agg + top-k; tpch.clj:184-204)
# ---------------------------------------------------------------------------


@register(
    "tpch_q3",
    """
    SELECT o_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [
                "?ok",
                "?od",
                ["sum", "?rev", "revenue"],
            ],
            "keys": ["o_orderkey", "o_orderdate", "revenue"],
            "where": [
                ["?c", ":c_mktsegment", "BUILDING"],
                ["?c", ":c_custkey", "?ck"],
                ["?o", ":o_custkey", "?ck"],
                ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"],
                [["<", "?od", "1998-03-15"]],
                ["?l", ":l_orderkey", "?ok"],
                ["?l", ":l_shipdate", "?sd"],
                [[">", "?sd", "1998-03-15"]],
                ["?l", ":l_extendedprice", "?p"],
                ["?l", ":l_discount", "?d"],
                [["*", "?p", ["-", 1, "?d"]], "?rev"],
            ],
        },
    )
    return (
        _round(df, {"revenue": 2})
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 — local supplier volume (6-way join; tpch.clj:221-240)
# ---------------------------------------------------------------------------


@register(
    "tpch_q5",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": ["?nname", ["sum", "?rev", "revenue"]],
            "keys": ["n_name", "revenue"],
            "where": [
                ["?c", ":c_custkey", "?ck"],
                ["?c", ":c_nationkey", "?nk"],
                ["?o", ":o_custkey", "?ck"],
                ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"],
                [[">=", "?od", "1996-01-01"]],
                [["<", "?od", "1997-01-01"]],
                ["?l", ":l_orderkey", "?ok"],
                ["?l", ":l_suppkey", "?sk"],
                ["?l", ":l_extendedprice", "?p"],
                ["?l", ":l_discount", "?d"],
                ["?s", ":s_suppkey", "?sk"],
                ["?s", ":s_nationkey", "?nk"],
                ["?n", ":n_nationkey", "?nk"],
                ["?n", ":n_name", "?nname"],
                ["?n", ":n_regionkey", "?rk"],
                ["?r", ":r_regionkey", "?rk"],
                ["?r", ":r_name", "ASIA"],
                [["*", "?p", ["-", 1, "?d"]], "?rev"],
            ],
        },
    )
    return _round(df, {"revenue": 2})


# ---------------------------------------------------------------------------
# TPC-H Q6 — forecast revenue (selective scan; tpch.clj:242-254)
# ---------------------------------------------------------------------------


@register(
    "tpch_q6",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [["sum", "?rev", "revenue"]],
            "where": [
                ["?l", ":l_shipdate", "?sd"],
                ["?l", ":l_discount", "?d"],
                ["?l", ":l_quantity", "?qty"],
                ["?l", ":l_extendedprice", "?p"],
                [[">=", "?sd", "1997-01-01"]],
                [["<", "?sd", "1998-01-01"]],
                [[">=", "?d", 0.05]],
                [["<=", "?d", 0.07]],
                [["<", "?qty", 24.0]],
                [["*", "?p", "?d"], "?rev"],
            ],
        },
    )
    return _round(df, {"revenue": 2})


# ---------------------------------------------------------------------------
# TPC-H Q7 — volume shipping between two nations (or of and-pairs;
# tpch.clj:256-282)
# ---------------------------------------------------------------------------


@register(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [
                "?supp_nation",
                "?cust_nation",
                "?l_year",
                ["sum", "?volume", "revenue"],
            ],
            "keys": ["supp_nation", "cust_nation", "l_year", "revenue"],
            "where": [
                ["?s", ":s_suppkey", "?sk"],
                ["?s", ":s_nationkey", "?snk"],
                ["?l", ":l_suppkey", "?sk"],
                ["?l", ":l_orderkey", "?ok"],
                ["?l", ":l_shipdate", "?sd"],
                ["?l", ":l_extendedprice", "?p"],
                ["?l", ":l_discount", "?d"],
                ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_custkey", "?ck"],
                ["?c", ":c_custkey", "?ck"],
                ["?c", ":c_nationkey", "?cnk"],
                ["?n1", ":n_nationkey", "?snk"],
                ["?n1", ":n_name", "?supp_nation"],
                ["?n2", ":n_nationkey", "?cnk"],
                ["?n2", ":n_name", "?cust_nation"],
                [
                    "or",
                    [
                        "and",
                        [["=", "?supp_nation", "NATION_1"]],
                        [["=", "?cust_nation", "NATION_2"]],
                    ],
                    [
                        "and",
                        [["=", "?supp_nation", "NATION_2"]],
                        [["=", "?cust_nation", "NATION_1"]],
                    ],
                ],
                [["year", "?sd"], "?l_year"],
                [["*", "?p", ["-", 1, "?d"]], "?volume"],
            ],
        },
    )
    return _round(df, {"revenue": 2})


# ---------------------------------------------------------------------------
# TPC-H Q9 (adapted: no partsupp in testdata) — profit by nation/year for
# parts matching a name pattern (tpch.clj:319-344, re-find pattern per q20)
# ---------------------------------------------------------------------------


@register(
    "tpch_q9",
    """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS profit
    FROM lineitem JOIN part     ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders   ON o_orderkey = l_orderkey
                  JOIN nation   ON s_nationkey = n_nationkey
    WHERE regexp_matches(p_name, 'widget')
    GROUP BY n_name, year(o_orderdate)
    """,
)
def tpch_q9(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": ["?nation", "?o_year", ["sum", "?amount", "profit"]],
            "keys": ["nation", "o_year", "profit"],
            "where": [
                ["?p", ":p_partkey", "?pk"],
                ["?p", ":p_name", "?pname"],
                [["re-find", "widget", "?pname"]],
                ["?l", ":l_partkey", "?pk"],
                ["?l", ":l_suppkey", "?sk"],
                ["?l", ":l_orderkey", "?ok"],
                ["?l", ":l_extendedprice", "?price"],
                ["?l", ":l_discount", "?disc"],
                ["?s", ":s_suppkey", "?sk"],
                ["?s", ":s_nationkey", "?nk"],
                ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"],
                ["?n", ":n_nationkey", "?nk"],
                ["?n", ":n_name", "?nation"],
                [["year", "?od"], "?o_year"],
                [["decimal", ["*", "?price", ["-", 1, "?disc"]]], "?amount"],
            ],
        },
    )
    return df.withColumn("profit", F.round("profit", 2).cast("double"))


# ---------------------------------------------------------------------------
# TPC-H Q10 — returned items, top-20 customers by lost revenue
# (tpch.clj:346-374)
# ---------------------------------------------------------------------------


@register(
    "tpch_q10",
    """
    SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [
                "?ck",
                "?cname",
                ["sum", "?rev", "revenue"],
                "?bal",
                "?nname",
            ],
            "keys": ["c_custkey", "c_name", "revenue", "c_acctbal", "n_name"],
            "where": [
                ["?c", ":c_custkey", "?ck"],
                ["?c", ":c_name", "?cname"],
                ["?c", ":c_acctbal", "?bal"],
                ["?c", ":c_nationkey", "?nk"],
                ["?n", ":n_nationkey", "?nk"],
                ["?n", ":n_name", "?nname"],
                ["?o", ":o_custkey", "?ck"],
                ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"],
                [[">=", "?od", "1996-10-01"]],
                [["<", "?od", "1997-01-01"]],
                ["?l", ":l_orderkey", "?ok"],
                ["?l", ":l_returnflag", "R"],
                ["?l", ":l_extendedprice", "?p"],
                ["?l", ":l_discount", "?d"],
                [["*", "?p", ["-", 1, "?d"]], "?rev"],
            ],
        },
    )
    return (
        _round(df, {"revenue": 2})
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 — customer order-count distribution (or-join in the reference,
# tpch.clj:421-433; here: outer join + two-level aggregation)
# ---------------------------------------------------------------------------


@register(
    "tpch_q13",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def tpch_q13(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    c = cat.table("customer")
    o = cat.table("orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q14 — promo revenue share (conditional agg; tpch.clj:435-453)
# ---------------------------------------------------------------------------


@register(
    "tpch_q14",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    l = cat.table("lineitem")
    p = cat.table("part")
    df = (
        l.filter(
            (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(
                        F.col("p_type") == "PROMO",
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    ).otherwise(0.0)
                )
                / F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("promo_revenue")
        )
    )
    return df


# ---------------------------------------------------------------------------
# TPC-H Q18 — large-volume customers (group-having subquery;
# tpch.clj:518-537)
# ---------------------------------------------------------------------------


@register(
    "tpch_q18",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 180
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def tpch_q18(spark, sf_dir):
    # The having-aggregate runs FIRST and its semi-join is applied to
    # orders AND lineitem BEFORE the 3-way join (r12 verdict #6 A/B at
    # sf1: keeps 10% of orders / 18.5% of lineitem, turning the big
    # SortMergeJoin into all-broadcast with a reused exchange for the
    # `big` relation — the post-join semi variant fed the fat join all
    # 6M lineitems first).
    cat = catalog_for(spark, sf_dir)
    l = cat.table("lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 180)
        .select(F.col("l_orderkey").alias("bok"))
    )
    c, o = cat.table("customer"), cat.table("orders")
    o2 = o.join(big, o.o_orderkey == F.col("bok"), "left_semi")
    l2 = l.join(big, l.l_orderkey == F.col("bok"), "left_semi")
    return (
        c.join(o2, c.c_custkey == o2.o_custkey)
        .join(l2, o2.o_orderkey == l2.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 — discounted revenue, 3-branch disjunction compiled to ONE
# pushed-down filter (tpch.clj:539-568)
# ---------------------------------------------------------------------------


@register(
    "tpch_q19",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity >= 1  AND l_quantity <= 11 AND p_size <= 5)
       OR (p_brand = 'Brand#2' AND l_quantity >= 10 AND l_quantity <= 20 AND p_size <= 10)
       OR (p_brand = 'Brand#3' AND l_quantity >= 20 AND l_quantity <= 30 AND p_size <= 15)
    """,
)
def tpch_q19(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [["sum", "?rev", "revenue"]],
            "where": [
                ["?l", ":l_partkey", "?pk"],
                ["?l", ":l_quantity", "?qty"],
                ["?l", ":l_extendedprice", "?price"],
                ["?l", ":l_discount", "?disc"],
                ["?p", ":p_partkey", "?pk"],
                ["?p", ":p_brand", "?brand"],
                ["?p", ":p_size", "?size"],
                [
                    "or",
                    [
                        "and",
                        [["=", "?brand", "Brand#1"]],
                        [[">=", "?qty", 1.0]],
                        [["<=", "?qty", 11.0]],
                        [["<=", "?size", 5]],
                    ],
                    [
                        "and",
                        [["=", "?brand", "Brand#2"]],
                        [[">=", "?qty", 10.0]],
                        [["<=", "?qty", 20.0]],
                        [["<=", "?size", 10]],
                    ],
                    [
                        "and",
                        [["=", "?brand", "Brand#3"]],
                        [[">=", "?qty", 20.0]],
                        [["<=", "?qty", 30.0]],
                        [["<=", "?size", 15]],
                    ],
                ],
                [["*", "?price", ["-", 1, "?disc"]], "?rev"],
            ],
        },
    )
    return _round(df, {"revenue": 2})


# ---------------------------------------------------------------------------
# TPC-H Q21-style anti-join: suppliers with no returned lineitems
# (not-join; tpch.clj:596-620 / q4:206, q22:621)
# ---------------------------------------------------------------------------


@register(
    "tpch_q21_anti",
    """
    SELECT DISTINCT s_name
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_suppkey = supplier.s_suppkey AND l2.l_returnflag = 'R'
        AND l2.l_quantity > 49
    )
    """,
)
def tpch_q21_anti(spark, sf_dir):
    """Anti-join (not-join) with a range predicate INSIDE the negated
    subquery: suppliers with no full-quantity returned lineitem. The
    quantity cut (> 49) makes the gate bite at sf0.01 (5 of 100
    suppliers survive) — the original no-returns form was vacuously
    0-row on the synthetic corpus."""
    cat = catalog_for(spark, sf_dir)
    return q(
        cat,
        {
            "find": ["?sname"],
            "keys": ["s_name"],
            "where": [
                ["?s", ":s_suppkey", "?sk"],
                ["?s", ":s_name", "?sname"],
                ["?l", ":l_suppkey", "?sk"],
                [
                    "not-join",
                    ["?sk"],
                    ["?l2", ":l_suppkey", "?sk"],
                    ["?l2", ":l_returnflag", "R"],
                    ["?l2", ":l_quantity", "?q2"],
                    [[">", "?q2", 49.0]],
                ],
            ],
        },
    )


@register(
    "tpch_q21",
    """
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
    WHERE l1.l_shipdate > o.o_orderdate
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21(spark, sf_dir):
    """Suppliers who kept waiting — the reference's full Q21 shape
    (tpch.clj:596-620): or-join (order has another supplier) + correlated
    not-join (no OTHER supplier was late on the same order) + count +
    order/limit 100, all through the Datalog surface. The synthetic tables
    lack l_receiptdate/l_commitdate, so 'late' is l_shipdate > o_orderdate
    (same adaptation as tpch_q4)."""
    cat = catalog_for(spark, sf_dir)
    return q(
        cat,
        {
            "find": ["?sname", ["count", "?l", "numwait"]],
            "keys": ["s_name", "numwait"],
            "where": [
                ["?l", ":l_suppkey", "?sk"],
                ["?s", ":s_suppkey", "?sk"],
                ["?s", ":s_name", "?sname"],
                ["?s", ":s_nationkey", "?nk"],
                ["?n", ":n_nationkey", "?nk"],
                ["?n", ":n_name", "NATION_1"],
                ["?l", ":l_orderkey", "?ok"],
                ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderstatus", "F"],
                ["?l", ":l_shipdate", "?ship"],
                ["?o", ":o_orderdate", "?odate"],
                [[">", "?ship", "?odate"]],
                # order involves at least one other supplier
                [
                    "or-join",
                    ["?ok", "?sk"],
                    [
                        "and",
                        ["?l2", ":l_orderkey", "?ok"],
                        ["?l2", ":l_suppkey", "?sk2"],
                        [["not=", "?sk2", "?sk"]],
                    ],
                ],
                # ...but no other supplier was late on that order
                [
                    "not-join",
                    ["?ok", "?sk", "?odate"],
                    ["?l3", ":l_orderkey", "?ok"],
                    ["?l3", ":l_suppkey", "?sk3"],
                    [["not=", "?sk3", "?sk"]],
                    ["?l3", ":l_shipdate", "?ship3"],
                    [[">", "?ship3", "?odate"]],
                ],
            ],
            "order-by": [["numwait", "desc"], ["s_name", "asc"]],
            "limit": 100,
        },
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 — customers above-average balance with no orders
# (scalar subquery + anti-join + subs; tpch.clj:621-650)
# ---------------------------------------------------------------------------


@register(
    "tpch_q22",
    """
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT substring(c_name, 1, 10) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ) t
    GROUP BY cntrycode
    """,
)
def tpch_q22(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    c = cat.table("customer")
    o = cat.table("orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("a"))
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.select(
            F.substring("c_name", 1, 10).alias("cntrycode"), "c_acctbal"
        )
        .groupBy("cntrycode")
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    )


# ---------------------------------------------------------------------------
# Temporal: as-of point lookup over the events stream (the reference's
# entity-as-of, index_store.clj:774-795 -> window row_number)
# ---------------------------------------------------------------------------


@register(
    "events_asof",
    """
    SELECT user_id, event_type AS last_type, round(value, 2) AS last_value
    FROM (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-08'
    ) v WHERE rn = 1
    """,
)
def events_asof(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    ev = cat.table("events")
    import datetime

    snap = latest_as_of(
        ev, "user_id", "ts", datetime.datetime(2024, 1, 8), tiebreak_cols=["event_id"]
    )
    return snap.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Temporal rollup: per-type daily event aggregates (ts_weather.clj:70-100
# style time-bucket group-by)
# ---------------------------------------------------------------------------


@register(
    "events_rollup",
    """
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n, round(sum(value), 2) AS total,
           round(avg(value), 6) AS avg_value
    FROM events
    GROUP BY event_type, day
    """,
)
def events_rollup(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    ev = cat.table("events")
    return ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Datalog aggregate parity: median / stddev / count-distinct
# (query.clj:284-408 — exact, population variants)
# ---------------------------------------------------------------------------


@register(
    "agg_stats",
    """
    SELECT o_orderpriority,
           round(median(o_totalprice), 4)      AS median_price,
           round(stddev_pop(o_totalprice), 4)  AS stddev_price,
           count(DISTINCT o_custkey)           AS n_cust
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_stats(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [
                "?prio",
                ["median", "?price", "median_price"],
                ["stddev", "?price", "stddev_price"],
                ["count-distinct", "?ck", "n_cust"],
            ],
            "keys": ["o_orderpriority", "median_price", "stddev_price", "n_cust"],
            "where": [
                ["?o", ":o_orderpriority", "?prio"],
                ["?o", ":o_totalprice", "?price"],
                ["?o", ":o_custkey", "?ck"],
            ],
        },
    )
    return _round(df, {"median_price": 4, "stddev_price": 4})


# ===========================================================================
# LLM-pipeline operators (dedup / similarity / text analysis)
# ===========================================================================

from crux_spark.operators import dedup as _dedup
from crux_spark.operators import graph as _graph
from crux_spark.operators import sampling as _samp
from crux_spark.operators import similarity as _sim
from crux_spark.operators import textops as _text


@register(
    "text_analysis",
    r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           round(len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x IN ('the','a','of','and','to','in','is','it')))
                 * 1.0 / len(string_split_regex(trim(text), '\s+')), 6) AS stop_ratio,
           round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                 * 1.0 / length(text), 6) AS punct_ratio,
           CASE WHEN round(len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x IN ('the','a','of','and','to','in','is','it')))
                 * 1.0 / len(string_split_regex(trim(text), '\s+')), 6) >= 0.05
                THEN 'en' ELSE 'unk' END AS lang_guess
    FROM documents
    """,
)
def text_analysis(spark, sf_dir):
    """Token counting, quality ratios, language-ID heuristic — all
    JVM-side expressions (SURVEY.md extension ops)."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    t = F.col("text")
    toks = _text.tokens(t)
    stop_ratio = F.round(_text.stopword_ratio(t), 6)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        F.round(_text.punct_ratio(t), 6).alias("punct_ratio"),
        F.when(t.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(stop_ratio >= 0.05, F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("lang_guess"),
    )


@register(
    "dedup_exact",
    r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, '  ' || upper(substr(text, 1, 1)) || substr(text, 2)
      FROM documents WHERE doc_id % 50 = 0
    )
    SELECT content_hash, n_docs, keep_id, dup_ids
    FROM (
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
             count(*) AS n_docs, min(doc_id) AS keep_id,
             array_to_string(list_sort(list(doc_id)), ',') AS dup_ids
      FROM aug GROUP BY 1
    ) t WHERE n_docs > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact normalized-hash dedup, driven over a corpus with PLANTED
    near-verbatim copies (every 50th doc reappears at id+2000000 with
    leading whitespace and a case change — exactly what the
    normalization must collapse). The synthetic corpus has no natural
    exact duplicates, so the unplanted form was a vacuous 0-row gate."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.upper(F.substring("text", 1, 1)),
            F.expr("substring(text, 2)"),
        ).alias("text"),
    )
    out = _dedup.exact_duplicates(docs.unionByName(planted))
    # array column -> comma-joined string for the gate comparison
    # (module docstring discipline; the operator itself keeps the array)
    return out.withColumn(
        "dup_ids",
        F.concat_ws(
            ",",
            F.transform(F.sort_array("dup_ids"), lambda x: x.cast("string")),
        ),
    )


@register(
    "dedup_ngram_jaccard",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i, t FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    return _dedup.ngram_jaccard_pairs(cat.table("documents"), threshold=0.5)


@register(
    "dedup_minhash_lsh",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i, t FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate generation with exact shingle-set
    verification — the production dedup shape. The oracle is the EXACT
    similarity join, so a hash-match also proves banding recall 1.0 at
    threshold 0.5 with 16 bands x 2 rows (verified at sf0.01 and sf0.1).
    The estimated-jaccard (signature-only) variant stays covered by
    pytest against this same exact answer."""
    cat = catalog_for(spark, sf_dir)
    return _dedup.minhash_lsh_pairs(
        cat.table("documents"), threshold=0.5, num_hashes=32, bands=16,
        verify="exact",
    )


@register(
    "dedup_simhash",
    r"""
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash banded near-dup join, driven end-to-end over a corpus with
    planted duplicates: every doc_id % 20 == 0 gets an identical copy at
    id + 1000000. Identical text => identical 64-bit simhash => hamming 0
    and guaranteed band collision, so the planted-pair slice of the
    output is exactly computable by the oracle. Nonzero-hamming behavior
    (hamming<=3 vs brute-force XOR popcount) is pytest-covered; this
    gate proves the signature/banding/join pipeline deterministically."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    aug = docs.unionByName(planted)
    pairs = _dedup.simhash_near_pairs(aug, max_hamming=3)
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1000000) & (F.col("id_a") < 1000000)
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "ann_brute_force",
    """
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 5
    ) t WHERE rank <= 5
    """,
)
def ann_brute_force(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _sim.brute_force_topk(emb, queries_df, k=5, query_id_col="query_id")


_IVF_CENTROIDS: dict[tuple[int, str], object] = {}


@register(
    "ann_ivf",
    """
    SELECT vec_id + 1000000 AS query_id, vec_id,
           round(list_cosine_similarity(
             list_prepend(CAST(embedding[1] AS DOUBLE) + 0.001,
                          CAST(embedding[2:] AS DOUBLE[])),
             CAST(embedding AS DOUBLE[])), 6) AS sim,
           1 AS rank
    FROM embeddings WHERE vec_id < 25
    """,
)
def ann_ivf(spark, sf_dir):
    """IVF ANN with a DuckDB-checkable answer: queries are slightly
    perturbed copies of corpus vectors (component 0 nudged by +0.001),
    whose true nearest neighbor is the original vector with a cosine the
    oracle computes directly. nprobe=2 of nlist=8 scans only ~1/4 of the
    corpus, so a hash-match proves the cell routing sends each perturbed
    query to its original's cell AND the per-cell scan + merge return
    the true NN — the genuinely-approximate path, not an exhaustive
    probe. recall@k at larger k/nprobe is pytest-covered."""
    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings")
    # centroids are the IVF *index*: trained once per corpus and reused
    # (at 100 TB the cell assignment is likewise precomputed at write
    # time and used as the partition key — see ivf_topk docstring)
    ck = (id(spark), sf_dir)
    if ck not in _IVF_CENTROIDS:
        _IVF_CENTROIDS[ck] = _sim.train_centroids(emb, nlist=8)
    cents = _IVF_CENTROIDS[ck]
    queries_df = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == 0, x + F.lit(0.001)).otherwise(x),
        ).alias("embedding"),
    )
    return _sim.ivf_topk(emb, queries_df, cents, k=1, nprobe=2)


_PQ_BOOKS: dict = {}
_SQ8_BOUNDS: dict = {}


@register(
    "ann_pq",
    """
    SELECT vec_id + 1000000 AS query_id, vec_id,
           round(list_cosine_similarity(
             list_prepend(CAST(embedding[1] AS DOUBLE) + 0.001,
                          CAST(embedding[2:] AS DOUBLE[])),
             CAST(embedding AS DOUBLE[])), 6) AS sim,
           1 AS rank
    FROM embeddings WHERE vec_id < 25
    """,
)
def ann_pq(spark, sf_dir):
    """Product-quantization ANN with a DuckDB-checkable answer (the
    ann_ivf perturbed-query pattern): ADC over m-byte codes shortlists
    candidates, exact re-rank returns true cosines — a hash-match
    proves the 8x16 codebooks route each perturbed query's shortlist to
    contain its original vector AND the re-rank surfaces it at rank 1.
    At 100 TB the ADC pass reads m bytes/vector instead of the raw
    embeddings; recall@k at larger k is pytest-covered."""
    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings")
    ck = (id(spark), sf_dir)
    if ck not in _PQ_BOOKS:
        _PQ_BOOKS[ck] = _sim.train_pq_codebooks(emb, m=8, ksub=16)
    books = _PQ_BOOKS[ck]
    queries_df = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == 0, x + F.lit(0.001)).otherwise(x),
        ).alias("embedding"),
    )
    return _sim.pq_topk(emb, queries_df, books, k=1, shortlist=32)


@register(
    "embedding_threshold_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
)
def embedding_threshold_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact (SURVEY 'embedding-cosine
    near-dup'): all-pairs cosine >= threshold, distributed block-matrix
    product (one numpy matmul per cogrouped tile — no per-pair expression
    eval). At 100 TB the LSH bucket join generates candidates and this
    runs as the within-bucket verify."""
    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings")
    return _sim.cosine_threshold_pairs(emb, threshold=0.45)


# ===========================================================================
# Batch 3: or-join, windows, top-N aggs, sessionization, JSON,
# SQL surface, text search
# ===========================================================================

from crux_spark.functions.text_search import build_text_index as _bti
from crux_spark.functions.text_search import text_search as _ts


@register(
    "datalog_or_join",
    """
    SELECT c_name AS name FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT s_name FROM supplier
    """,
)
def datalog_or_join(spark, sf_dir):
    cat = catalog_for(spark, sf_dir)
    return q(
        cat,
        {
            "find": ["?name"],
            "keys": ["name"],
            "where": [
                [
                    "or-join",
                    ["?name"],
                    [
                        "and",
                        ["?c", ":c_name", "?name"],
                        ["?c", ":c_acctbal", "?b"],
                        [[">", "?b", 9000.0]],
                    ],
                    ["?s", ":s_name", "?name"],
                ],
            ],
        },
    )


@register(
    "window_topk",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) t WHERE rn <= 2
    """,
)
def window_topk(spark, sf_dir):
    """Top-k per group via window (SURVEY.md §2.5 - the engine exposes
    Spark windows as first-class; the reference lacked them)."""
    cat = catalog_for(spark, sf_dir)
    o = cat.table("orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "agg_min_max_n",
    """
    SELECT l_returnflag,
           array_to_string(list_transform((list_sort(list(DISTINCT l_quantity)))[1:3],
                                          x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS min3_qty,
           array_to_string(list_transform((list_reverse_sort(list(DISTINCT l_quantity)))[1:3],
                                          x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',') AS max3_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_min_max_n(spark, sf_dir):
    """min-N / max-N aggregates (query.clj:379-408).

    The array results are encoded as comma-joined strings on BOTH sides
    (Spark + oracle): the gate comparison rejects array result
    columns. l_quantity is integral, so the
    elements cast to BIGINT losslessly."""
    cat = catalog_for(spark, sf_dir)
    df = q(
        cat,
        {
            "find": [
                "?flag",
                ["min", 3, "?qty", "min3_qty"],
                ["max", 3, "?qty", "max3_qty"],
            ],
            "keys": ["l_returnflag", "min3_qty", "max3_qty"],
            "where": [
                ["?l", ":l_returnflag", "?flag"],
                ["?l", ":l_quantity", "?qty"],
            ],
        },
    )
    as_str = lambda c: F.concat_ws(
        ",", F.transform(F.col(c), lambda x: x.cast("bigint").cast("string"))
    ).alias(c)
    return df.select("l_returnflag", as_str("min3_qty"), as_str("max3_qty"))


@register(
    "events_sessionize",
    """
    SELECT user_id, count(*) AS n_sessions FROM (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
      ) x
    ) y WHERE new_session = 1
    GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap session starts per user (lag + flag —
    the guide's sessionization pattern; session_window in streaming)."""
    cat = catalog_for(spark, sf_dir)
    ev = cat.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros over an explicit LTZ cast: a timestamp→numeric cast is
    # ANSI-illegal (Spark 4 default), and on a vanilla driver session the
    # events ts column can surface as TIMESTAMP_NTZ — NTZ→LTZ is identity
    # under the UTC session tz the catalog enforces.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    prev_us = F.unix_micros(F.col("prev_ts").cast("timestamp_ltz"))
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull() | (ts_us - prev_us > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return (
        flagged.filter(F.col("new_session") == 1)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )


@register(
    "events_json",
    """
    SELECT event_type, CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def events_json(spark, sf_dir):
    """JSON extraction over the props column (the reference had no JSON
    fns - SURVEY.md §2.8; Spark builtins give them free)."""
    cat = catalog_for(spark, sf_dir)
    return (
        cat.table("events")
        .groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k")
        )
    )


@register(
    "sql_surface",
    """
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_surface(spark, sf_dir):
    """Direct spark.sql over registered snapshot views - the engine's SQL
    surface replacing the reference's Calcite adapter (SURVEY.md §3.3)."""
    cat = catalog_for(spark, sf_dir)
    cat.register_views()
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_orderstatus
        """
    )


_TEXT_INDEX: dict[tuple[int, str], tuple] = {}


@register(
    "text_search_docs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+')) AS term
      FROM documents
    ), postings AS (
      SELECT doc_id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT p.doc_id AS eid, round(sum(p.tf * ln(1 + n.n_docs * 1.0 / d.df)), 2) AS score
    FROM postings p JOIN dfreq d USING (term), n
    WHERE p.term IN ('spark', 'window', 'merge')
    GROUP BY p.doc_id
    """,
)
def text_search_docs(spark, sf_dir):
    """Search a PERSISTED inverted index: index build is ingest-time work
    (IncrementalTextIndex maintains it from the tx log at scale — see
    functions/text_search.py:102), so the query path only pays the
    postings join + score agg. The index is built once per (session,
    corpus) and checkpointed, mirroring a bucketed-by-term parquet index
    table at 100 TB."""
    ck = (id(spark), sf_dir)
    if ck not in _TEXT_INDEX:
        cat = catalog_for(spark, sf_dir)
        postings, dfreq, n = _bti(cat.table("documents"), "doc_id", "text")
        _TEXT_INDEX[ck] = (
            postings.localCheckpoint(),
            dfreq.localCheckpoint(),
            n,
        )
    postings, dfreq, n = _TEXT_INDEX[ck]
    out = _ts(postings, dfreq, n, "spark window merge")
    return out.select("eid", F.round("score", 2).alias("score"))


# ===========================================================================
# Batch 4: remaining TPC-H shapes (q2/q4/q8/q11/q12/q15/q16/q17/q20 adapted
# to available columns), recursive rules vs WITH RECURSIVE, relation :in
# ===========================================================================


@register(
    "tpch_q2",
    """
    SELECT DISTINCT p_brand, s_name, s_acctbal FROM (
      SELECT p.p_brand, s.s_name, s.s_acctbal,
             min(s.s_acctbal) OVER (PARTITION BY p.p_brand) AS mn
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ) t WHERE s_acctbal = mn
    """,
)
def tpch_q2(spark, sf_dir):
    """Min-cost supplier per brand (q2 shape: min-subquery + join;
    tpch.clj:144-182 — partsupp absent, lineitem links parts/suppliers)."""
    cat = catalog_for(spark, sf_dir)
    l = cat.table("lineitem").select("l_partkey", "l_suppkey").distinct()
    p = cat.table("part")
    s = cat.table("supplier")
    joined = (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("p_brand", "s_name", "s_acctbal")
    )
    # per-brand min via hash aggregate (map-side partial combine) +
    # broadcast join-back: a window over ~25 brand partitions would
    # sort the whole relation on a handful of skewed partitions —
    # the agg ships 25 rows instead
    mins = joined.groupBy("p_brand").agg(F.min("s_acctbal").alias("mn"))
    return (
        joined.join(F.broadcast(mins), "p_brand")
        .filter(F.col("s_acctbal") == F.col("mn"))
        .select("p_brand", "s_name", "s_acctbal")
        .distinct()
    )


@register(
    "tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark, sf_dir):
    """Order-priority checking (q4 shape: EXISTS semi-join;
    tpch.clj:206-219 — commitdate absent, late-shipment predicate).
    ONE semi-join with the non-equi late predicate inside the join
    condition: orders is scanned once (round-1 plan read q4 twice)."""
    cat = catalog_for(spark, sf_dir)
    o = cat.table("orders")
    l = cat.table("lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q8",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n.n_name AS nation
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation n ON n.n_nationkey = s_nationkey
                    JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ) t GROUP BY o_year
    """,
)
def tpch_q8(spark, sf_dir):
    """National market share within a region (q8; tpch.clj:284-317)."""
    cat = catalog_for(spark, sf_dir)
    l, o = cat.table("lineitem"), cat.table("orders")
    s, n, r = cat.table("supplier"), cat.table("nation"), cat.table("region")
    base = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("n_name").alias("nation"),
        )
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


@register(
    "tpch_q11",
    """
    SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS value
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) >
           (SELECT sum(l_extendedprice * (1 - l_discount)) * 0.0006 FROM lineitem)
    """,
)
def tpch_q11(spark, sf_dir):
    """Important stock (q11 shape: scalar-subquery HAVING;
    tpch.clj:376-398)."""
    cat = catalog_for(spark, sf_dir)
    l = cat.table("lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = l.groupBy("l_partkey").agg(F.sum(rev).alias("v"))
    total = l.agg((F.sum(rev) * 0.0006).alias("cut"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("v") > F.col("cut"))
        .select("l_partkey", F.round("v", 2).alias("value"))
    )


@register(
    "tpch_q12",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def tpch_q12(spark, sf_dir):
    """Shipping modes/priority (q12 shape: conditional counts;
    tpch.clj:400-419 — shipmode absent, linestatus buckets)."""
    cat = catalog_for(spark, sf_dir)
    o, l = cat.table("orders"), cat.table("lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark, sf_dir):
    """Top supplier (q15: view + scalar max subquery; tpch.clj:455-477)."""
    cat = catalog_for(spark, sf_dir)
    l, s = cat.table("lineitem"), cat.table("supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


@register(
    "tpch_q16",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16(spark, sf_dir):
    """Parts/supplier relationship (q16: not= filter + count-distinct;
    tpch.clj:479-499) — via the Datalog surface."""
    cat = catalog_for(spark, sf_dir)
    return q(
        cat,
        {
            "find": [
                "?brand",
                "?type",
                "?size",
                ["count-distinct", "?sk", "supplier_cnt"],
            ],
            "keys": ["p_brand", "p_type", "p_size", "supplier_cnt"],
            "where": [
                ["?l", ":l_partkey", "?pk"],
                ["?l", ":l_suppkey", "?sk"],
                ["?p", ":p_partkey", "?pk"],
                ["?p", ":p_brand", "?brand"],
                ["?p", ":p_type", "?type"],
                ["?p", ":p_size", "?size"],
                [["not=", "?brand", "Brand#1"]],
                [["contains?", [1, 5, 9, 13, 17], "?size"]],
            ],
        },
    )


@register(
    "tpch_q17",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def tpch_q17(spark, sf_dir):
    """Small-quantity revenue (q17: correlated avg subquery -> per-part
    avg join; tpch.clj:501-516)."""
    cat = catalog_for(spark, sf_dir)
    l, p = cat.table("lineitem"), cat.table("part")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        l.join(p.filter(F.col("p_brand") == "Brand#3"), F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q20",
    """
    SELECT DISTINCT s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE regexp_matches(p_name, '^small')
      GROUP BY l_suppkey HAVING sum(l_quantity) > 100
    )
    """,
)
def tpch_q20(spark, sf_dir):
    """Potential promotion (q20: regex + grouped-having subquery semi-join;
    tpch.clj:570-594) — regex via the Datalog re-find builtin."""
    cat = catalog_for(spark, sf_dir)
    inner = q(
        cat,
        {
            "find": ["?sk", ["sum", "?qty", "sq"]],
            "keys": ["sk", "sq"],
            "where": [
                ["?l", ":l_suppkey", "?sk"],
                ["?l", ":l_partkey", "?pk"],
                ["?l", ":l_quantity", "?qty"],
                ["?p", ":p_partkey", "?pk"],
                ["?p", ":p_name", "?pn"],
                [["re-find", "^small", "?pn"]],
            ],
        },
    ).filter(F.col("sq") > 100)
    s = cat.table("supplier")
    return (
        s.join(inner, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_name")
        .distinct()
    )


@register(
    "datalog_recursive_reach",
    """
    WITH RECURSIVE edges AS (
      SELECT n_nationkey AS src, n_nationkey + 1 AS dst
      FROM nation WHERE (n_nationkey + 1) % 5 <> 0 AND n_nationkey + 1 <= 24
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src, dst FROM reach
    """,
)
def datalog_recursive_reach(spark, sf_dir):
    """Recursive rules (transitive closure) through the semi-naive fixpoint
    driver loop (query.clj:1209-1270 recursion), oracled against DuckDB's
    WITH RECURSIVE. Edge list derived deterministically from nation."""
    cat = catalog_for(spark, sf_dir)
    n = cat.table("nation")
    edges = (
        n.filter(((F.col("n_nationkey") + 1) % 5 != 0) & (F.col("n_nationkey") + 1 <= 24))
        .select(
            F.col("n_nationkey").cast("long").alias("src"),
            (F.col("n_nationkey") + 1).cast("long").alias("dst"),
        )
    )
    ecat = Catalog(spark)
    ecat.add_documents("edges", edges.withColumn("_id", F.concat_ws("_", "src", "dst")))
    return q(
        ecat,
        {
            "find": ["?x", "?y"],
            "keys": ["src", "dst"],
            "rules": [
                [
                    ["reach", "?x", "?y"],
                    ["?e", ":src", "?x"],
                    ["?e", ":dst", "?y"],
                ],
                [
                    ["reach", "?x", "?y"],
                    ["?e", ":src", "?x"],
                    ["?e", ":dst", "?z"],
                    ["reach", "?z", "?y"],
                ],
            ],
            "where": [["reach", "?x", "?y"]],
        },
    )


@register(
    "datalog_relation_in",
    """
    SELECT DISTINCT c_name FROM customer
    WHERE (c_mktsegment = 'BUILDING' AND c_nationkey = 1)
       OR (c_mktsegment = 'MACHINERY' AND c_nationkey = 2)
    """,
)
def datalog_relation_in(spark, sf_dir):
    """Relation :in binding (query.clj:156-157, :705-724): a literal
    relation joins like any other."""
    cat = catalog_for(spark, sf_dir)
    return q(
        cat,
        {
            "find": ["?name"],
            "keys": ["c_name"],
            "in": [[["?seg", "?nk"]]],
            "where": [
                ["?c", ":c_name", "?name"],
                ["?c", ":c_mktsegment", "?seg"],
                ["?c", ":c_nationkey", "?nk"],
            ],
        },
        [("BUILDING", 1), ("MACHINERY", 2)],
    )


# ===========================================================================
# Batch 5: bitemporal store through the gate, skew-safe aggregation
# ===========================================================================

_STORES: dict[tuple[int, str], object] = {}


def _purchase_store(spark, sf_dir):
    """Shared fixture: purchase events ingested as document puts
    (valid_from = event time) through the cogrouped splice apply — the
    full distributed write path, no driver-side loop."""
    from crux_spark.bitemporal.store import TxStore

    key = (id(spark), sf_dir)
    if key not in _STORES:
        cat = catalog_for(spark, sf_dir)
        ev = (
            cat.table("events")
            .filter(F.col("event_type") == "purchase")
            .select(
                "event_id",
                "value",
                F.concat(F.lit("u"), F.col("user_id")).alias("uid"),
                F.col("ts").alias("vt"),
            )
        )
        store = TxStore(spark)
        store.bulk_ingest(
            ev, "uid", ["uid", "value", "event_id"], "vt",
            tx_id_expr="unix_micros(CAST(vt AS TIMESTAMP_LTZ)) + event_id % 1000",
        )
        _STORES[key] = store
    return _STORES[key]


@register(
    "bitemporal_store_asof",
    """
    SELECT user_id, round(value, 2) AS last_value
    FROM (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-10' AND event_type = 'purchase'
    ) v WHERE rn = 1
    """,
)
def bitemporal_store_asof(spark, sf_dir):
    """The full bitemporal write path under the gate: the snapshot read
    at T must agree with the SQL latest-version oracle. Exercises TxStore
    ingest + db() at data volume, not just unit scenarios."""
    import datetime as _dt

    store = _purchase_store(spark, sf_dir)
    snap = store.db(valid_time=_dt.datetime(2024, 1, 10))
    return snap.select(
        F.regexp_replace("eid", "^u", "").cast("long").alias("user_id"),
        F.round(
            F.get_json_object("doc_json", "$.value").cast("double"), 2
        ).alias("last_value"),
    )


@register(
    "skew_salted_agg",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation over a low-cardinality (skew-prone)
    key — result identical to the plain groupBy, execution spreads each
    hot key over 16 partial tasks."""
    from crux_spark.operators.skew import salted_count_sum

    cat = catalog_for(spark, sf_dir)
    out = salted_count_sum(cat.table("events"), ["event_type"], "value", salt=16)
    return out.select("event_type", "n", F.round("total", 2).alias("total"))


@register(
    "bitemporal_store_history",
    """
    SELECT user_id, count(*) AS n_versions
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def bitemporal_store_history(spark, sf_dir):
    """Entity-history cardinality through the store: every purchase event
    became one asserted version (history events = puts), so per-entity
    asserted-version counts must equal the per-user event counts."""
    bitemporal_store_asof(spark, sf_dir)  # ensure the store is built
    store = _STORES[(id(spark), sf_dir)]
    return (
        store.versions.filter(F.col("asserted"))
        .groupBy(F.regexp_replace("eid", "^u", "").cast("long").alias("user_id"))
        .agg(F.count("*").alias("n_versions"))
    )


@register(
    "bitemporal_history_bounded",
    """
    SELECT user_id, count(*) AS n_versions, round(sum(value), 2) AS sum_values
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY user_id
    """,
)
def bitemporal_history_bounded(spark, sf_dir):
    """Bounded entity-history scan (index_store.clj:524-554 takes
    start/end valid-time + tx-id bounds): the store's history events inside
    a valid-time window must equal the source events in that window. Uses
    the distributed set-based surface (history_scan); the per-entity
    entity_history carries the same bounds."""
    import datetime as _dt

    bitemporal_store_asof(spark, sf_dir)  # ensure the store is built
    store = _STORES[(id(spark), sf_dir)]
    hist = store.history_scan(
        start_valid_time=_dt.datetime(2024, 1, 5),
        end_valid_time=_dt.datetime(2024, 1, 20),
    )
    return (
        hist.groupBy(
            F.regexp_replace("eid", "^u", "").cast("long").alias("user_id")
        )
        .agg(
            F.count("*").alias("n_versions"),
            F.round(
                F.sum(F.get_json_object("doc_json", "$.value").cast("double")), 2
            ).alias("sum_values"),
        )
    )


@register(
    "sql_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def sql_rollup(spark, sf_dir):
    """Grouping-set rollup (absent in the reference, SURVEY §2.4 'free via
    Spark'): subtotals + grand total in one pass."""
    cat = catalog_for(spark, sf_dir)
    l = cat.table("lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "qty",
        )
    )


@register(
    "window_lag_delta",
    """
    SELECT event_id, user_id, round(value - prev_value, 2) AS delta
    FROM (
      SELECT event_id, user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      FROM events
    ) t WHERE prev_value IS NOT NULL
    """,
)
def window_lag_delta(spark, sf_dir):
    """lag/lead window surface: per-user value deltas between consecutive
    events (SURVEY §2.5)."""
    cat = catalog_for(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        cat.table("events")
        .withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.col("prev_value"), 2).alias("delta"),
        )
    )


@register(
    "datalog_pull",
    """
    SELECT c.c_custkey, c.c_name AS name, n.n_name AS nation,
           COALESCE(array_to_string(
                      list_sort(list(o.o_orderkey)
                                FILTER (WHERE o.o_orderkey IS NOT NULL)),
                      ','), '') AS order_keys
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey <= 300
    GROUP BY c.c_custkey, c.c_name, n.n_name
    """,
)
def datalog_pull(spark, sf_dir):
    """EQL pull projection (crux-core/src/crux/pull.clj:50-201): forward
    join (:c_nationkey -> nation doc) + reverse join (:_o_custkey -> the
    orders pointing at this customer), flattened to hash-comparable
    columns. The reference batches doc-store lookups (batch-size 100,
    pull.clj:191); the Spark recast is left joins + struct assembly, so
    Catalyst batches for free."""
    from crux_spark.datalog.pull import pull

    cat = catalog_for(spark, sf_dir)
    cust = (
        cat.table("customer")
        .filter(F.col("c_custkey") <= 300)
        .select(F.col("_id").alias("ce"), "c_custkey")
    )
    pulled = pull(
        cat,
        cust,
        "ce",
        "customer",
        [":c_name", {":c_nationkey": [":n_name"]}, {":_o_custkey": [":o_orderkey"]}],
        joins={":c_nationkey": "nation", ":o_custkey": "orders"},
    )
    return pulled.select(
        "c_custkey",
        F.col("pull.c_name").alias("name"),
        F.col("pull.c_nationkey")[0]["n_name"].alias("nation"),
        # Array results: comma-joined string on BOTH sides (module
        # docstring discipline — the gate comparison rejects array
        # cells; see agg_min_max_n for the precedent).
        F.concat_ws(
            ",",
            F.transform(
                F.coalesce(
                    F.sort_array(
                        F.transform(
                            F.col("pull._o_custkey"), lambda s: s["o_orderkey"]
                        )
                    ),
                    F.array().cast("array<long>"),
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("order_keys"),
    )


@register(
    "datalog_subquery",
    """
    SELECT c_custkey, round(c_acctbal, 2) AS bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
    """,
)
def datalog_subquery(spark, sf_dir):
    """Scalar subquery predicate [(q {...}) ?avg] (query.clj:398-430's
    sub-query pred): the inner aggregate binds a scalar that feeds an
    outer range filter — the q22 shape, directly on the Datalog surface."""
    cat = catalog_for(spark, sf_dir)
    res = q(
        cat,
        {
            "find": ["?ck", "?bal"],
            "where": [
                ["?c", ":c_custkey", "?ck"],
                ["?c", ":c_acctbal", "?bal"],
                [
                    [
                        "q",
                        {
                            "find": [["avg", "?b", "a"]],
                            "where": [
                                ["?c2", ":c_acctbal", "?b"],
                                [[">", "?b", 0.0]],
                            ],
                        },
                    ],
                    "?avg",
                ],
                [[">", "?bal", "?avg"]],
            ],
        },
    )
    return res.select(
        F.col("ck").alias("c_custkey"), F.round("bal", 2).alias("bal")
    )


@register(
    "sql_temporal",
    """
    SELECT user_id, round(value, 2) AS last_value
    FROM (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-20' AND event_type = 'purchase'
    ) v WHERE rn = 1
    """,
)
def sql_temporal(spark, sf_dir):
    """The reference's SQL temporal prefix end-to-end
    (crux-sql/src/crux/calcite.clj:51-71): a ``VALIDTIME ('inst') SELECT``
    string picks the bitemporal snapshot, the SELECT runs through
    spark.sql on the registered snapshot view."""
    from crux_spark.sql import sql_q

    store = _purchase_store(spark, sf_dir)
    return sql_q(
        store,
        """VALIDTIME ('2024-01-20T00:00:00')
        SELECT CAST(regexp_replace(eid, '^u', '') AS LONG) AS user_id,
               round(CAST(get_json_object(doc_json, '$.value') AS DOUBLE), 2)
                 AS last_value
        FROM docs""",
    )


@register(
    "embedding_near_dup_lsh",
    """
    WITH aug AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]),
                            (x, i) -> CASE WHEN i = 1 THEN x + 0.05 ELSE x END)
      FROM embeddings WHERE vec_id % 10 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.98
    """,
)
def embedding_near_dup_lsh(spark, sf_dir):
    """Near-duplicate detection the way it runs at 100 TB: banded
    hyperplane LSH generates candidates (shuffle on (band, bucket) keys,
    never all-pairs), exact cosine verifies inside the candidate set.
    The corpus is augmented with deterministic perturbed copies (one
    component nudged) so true near-dups exist to find; the oracle is the
    exact all-pairs answer over the same augmented corpus, so this gate
    also PROVES the LSH recall is 1.0 at the 0.98 threshold. Band count
    and signature width auto-scale with N at a 1e-9 per-pair miss bound
    (r10 — the sf1.0 bench caught the fixed 16x8 config going quadratic
    on clustered embeddings; see lsh_near_dup_pairs)."""
    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    perturbed = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
        ).alias("embedding"),
    )
    aug = emb.unionByName(perturbed)
    return _sim.lsh_near_dup_pairs(aug, threshold=0.98)


# ---------------------------------------------------------------------------
# Deterministic sampling + benchmark decontamination (training-data ops)
# ---------------------------------------------------------------------------


@register(
    "sample_hash_deterministic",
    """
    SELECT doc_id FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    """,
)
def sample_hash_deterministic(spark, sf_dir):
    """Content-addressed 25% sample (operators/sampling.py hash_sample):
    same member set every run on any cluster — a pure codegen'd filter,
    no shuffle. The md5-nibble method is used here because the oracle
    must reproduce the exact member set in another engine; production
    uses xxhash64 mod 1e6 (rate resolution 1e-6)."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    return _samp.hash_sample(docs, 0.25, "doc_id", method="md5").select("doc_id")


@register(
    "decontaminate_ngram",
    r"""
    WITH dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ws
      FROM documents),
    bsh AS (
      SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS sh
      FROM dw, UNNEST(range(1, greatest(len(ws)-4, 0)+1)) AS t(i)
      WHERE doc_id % 97 = 0),
    dsh AS (
      SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
      FROM dw, UNNEST(range(1, greatest(len(ws)-4, 0)+1)) AS t(i)
      WHERE doc_id % 97 <> 0)
    SELECT doc_id, CAST(count(DISTINCT dsh.sh) AS BIGINT) AS n_shared
    FROM dsh JOIN bsh USING (sh)
    GROUP BY doc_id
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination (operators/sampling.py
    contaminated_docs): every 97th doc plays the benchmark corpus; flag
    training docs sharing a 5-word shingle with it. Plan: benchmark
    shingles distinct + broadcast, corpus side is one projection+explode
    — no self-join, scales as corpus x small."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return _samp.contaminated_docs(train, bench, n=5)


@register(
    "dedup_clusters",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i, t FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ), e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(v, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.v
    )
    SELECT v AS doc_id, min(r) AS keep_id FROM reach GROUP BY v
    """,
)
def dedup_clusters(spark, sf_dir):
    """The end of the dedup pipeline: near-dup PAIRS (exact n-gram
    Jaccard) resolved into transitive clusters by distributed connected
    components (log-round label propagation + pointer jumping,
    operators/graph.py), each doc mapped to its cluster's canonical
    survivor. The oracle recomputes the same pairs in DuckDB and closes
    them with a recursive CTE — transitive A~B~C clustering included."""
    cat = catalog_for(spark, sf_dir)
    pairs = _dedup.ngram_jaccard_pairs(cat.table("documents"), threshold=0.5)
    return _graph.dedup_keep_list(pairs)


@register(
    "mix_corpora_weighted",
    """
    SELECT doc_id, 0 AS source, 0 AS epoch FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 0, 1 FROM documents
    WHERE doc_id % 2 = 0
      AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
    UNION ALL
    SELECT doc_id, 1, 0 FROM documents
    WHERE doc_id % 2 = 1
      AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    """,
)
def mix_corpora_weighted(spark, sf_dir):
    """Deterministic dataset mixing (operators/sampling.py mix_corpora):
    even docs at rate 1.5 (one full epoch + a deterministic half), odd
    docs at 0.25 — the exact member set reproduces in DuckDB via the
    md5 sampling method. Pure union of narrow filters, no shuffle."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    return _samp.mix_corpora(
        [(even, 1.5), (odd, 0.25)], method="md5"
    ).select("doc_id", "source", "epoch")


@register(
    "dedup_chunks",
    r"""
    WITH dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    ch AS (
      SELECT doc_id, i AS ci,
             array_to_string(ws[(i-1)*8+1:least(i*8, len(ws))], ' ') AS chunk
      FROM dw, UNNEST(range(1, CAST(ceil(len(ws)/8.0) AS BIGINT) + 1)) AS t(i)),
    r AS (
      SELECT doc_id, ci, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
      FROM ch)
    SELECT doc_id, string_agg(chunk, ' ' ORDER BY ci) AS clean_text
    FROM r WHERE rn = 1 GROUP BY doc_id
    """,
)
def dedup_chunks(spark, sf_dir):
    """Corpus-level chunk dedup (boilerplate scrub): 8-word chunks, first
    occurrence wins globally, documents reassembled — full exact text
    match against the DuckDB oracle (operators/sampling.py
    dedup_text_chunks)."""
    cat = catalog_for(spark, sf_dir)
    return _samp.dedup_text_chunks(cat.table("documents"), chunk_words=8)


@register(
    "text_repetition",
    r"""
    WITH base AS (
      SELECT doc_id, text, length(text) AS chars,
             string_split(text, chr(10)) AS ls,
             string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents
    ), rowm AS (
      SELECT doc_id, chars, ws,
        round((len(ls) - len(list_distinct(ls))) * 1.0
              / greatest(len(ls), 1), 6) AS dup_line_frac,
        round((coalesce(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0)
               - coalesce(list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum'), 0)) * 1.0
              / greatest(coalesce(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0), 1),
              6) AS dup_line_char_frac,
        [array_to_string(ws[i:i+4], ' ')
         for i in range(1, greatest(len(ws) - 4, 1) + 1)] AS g5,
        [array_to_string(ws[i:i+1], ' ')
         for i in range(1, greatest(len(ws) - 1, 1) + 1)] AS g2
      FROM base
    ), dup5 AS (
      SELECT doc_id, dup_line_frac, dup_line_char_frac, chars, g2,
        round((coalesce(list_aggregate(list_transform(g5, x -> length(x)), 'sum'), 0)
               - coalesce(list_aggregate(list_transform(list_distinct(g5), x -> length(x)), 'sum'), 0)) * 1.0
              / greatest(chars, 1), 6) AS dup_ngram_char_frac
      FROM rowm
    ), topg AS (
      SELECT doc_id, max(cnt * length(g)) AS cov FROM (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest(g2) AS g FROM rowm)
        GROUP BY doc_id, g
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, dup_line_frac, dup_line_char_frac, dup_ngram_char_frac,
           round(coalesce(cov, 0) * 1.0 / greatest(chars, 1), 6) AS top_ngram_char_frac
    FROM dup5 d LEFT JOIN topg ON topg.doc_id = d.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality filters (Rae et al. 2021 Table A1,
    public heuristics): duplicate-line fraction/char-fraction and
    duplicate/top n-gram char coverage — three of the four are pure
    per-row Catalyst exprs (zero shuffle); the top-n-gram one is a single
    (doc, gram)-keyed agg."""
    cat = catalog_for(spark, sf_dir)
    return _text.repetition_metrics(cat.table("documents"))


@register(
    "text_pii_scrub",
    r"""
    SELECT doc_id,
      len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
      len(regexp_extract_all(text, '\+[0-9][0-9() .-]{7,}[0-9]')) AS n_phone,
      md5(regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
            '\+[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g')) AS scrubbed_md5
    FROM documents
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / phone-like spans) as a pure
    regexp_replace chain — RE2-compatible patterns so the scrub itself is
    oracle-verified byte-for-byte via md5 of the scrubbed text."""
    cat = catalog_for(spark, sf_dir)
    out = _text.pii_scrub(cat.table("documents"))
    return out.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5("text").alias("scrubbed_md5"),
    )


@register(
    "contamination_scores",
    r"""
    WITH dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ws
      FROM documents),
    bsh AS (
      SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS sh
      FROM dw, UNNEST(range(1, greatest(len(ws)-4, 0)+1)) AS t(i)
      WHERE doc_id % 97 = 0),
    dsh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
      FROM dw, UNNEST(range(1, greatest(len(ws)-4, 0)+1)) AS t(i)
      WHERE doc_id % 97 <> 0)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(b.sh) AS BIGINT) AS n_shared,
           round(count(b.sh) * 1.0 / count(*), 6) AS contam_frac
    FROM dsh d LEFT JOIN bsh b ON d.sh = b.sh
    GROUP BY d.doc_id
    """,
)
def contamination_scores(spark, sf_dir):
    """Graded benchmark-contamination fractions for every training doc
    (the threshold-tunable form of decontaminate_ngram — same broadcast
    shape, left join so clean docs report 0)."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return _samp.contamination_scores(train, bench, n=5)


@register(
    "unigram_lm_quality",
    r"""
    WITH toks AS (
      SELECT doc_id, t AS tok
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
            FROM documents)
      WHERE t <> ''
    ), freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM freq),
    vocab AS (SELECT tok, cnt FROM freq ORDER BY cnt DESC, tok LIMIT 65536),
    lp AS (
      SELECT t.doc_id,
             coalesce(ln((v.cnt + 0.5) / (tot.total + 0.5 * 65537)),
                      ln(0.5 / (tot.total + 0.5 * 65537))) AS lp
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, tot
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(-avg(lp), 6) AS nll,
           round(exp(-avg(lp)), 4) AS ppl
    FROM lp GROUP BY doc_id
    """,
)
def unigram_lm_quality(spark, sf_dir):
    """CCNet-style LM quality proxy: per-doc mean NLL under the
    corpus's own smoothed unigram distribution (textops
    unigram_nll_scores) — the perplexity-bucket filter, verified
    value-for-value against DuckDB."""
    cat = catalog_for(spark, sf_dir)
    return _text.unigram_nll_scores(cat.table("documents"))


@register(
    "stratified_sample",
    r"""
    SELECT doc_id, lang FROM documents
    WHERE strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
          < CASE lang WHEN 'en' THEN 8 WHEN 'zh' THEN 4
                      WHEN 'de' THEN 16 ELSE 2 END
    """,
)
def stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (corpus rebalancing: keep 50%
    of en, 25% of zh, all of de, 12.5% of everything else) — one
    codegen'd filter, no shuffle, exact member-set match vs DuckDB via
    the externally-reproducible md5 bucket space."""
    cat = catalog_for(spark, sf_dir)
    return _samp.stratified_hash_sample(
        cat.table("documents"),
        {"en": 0.5, "zh": 0.25, "de": 1.0},
        stratum_col="lang",
        key_col="doc_id",
        default_rate=0.125,
        method="md5",
    ).select("doc_id", "lang")


@register(
    "pack_sequences",
    r"""
    WITH d AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n,
             md5(CAST(doc_id AS VARCHAR)) AS ok
      FROM documents
    ), c AS (
      SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY ok, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - n AS st
      FROM d
    ), s AS (SELECT doc_id, n, st, st + n AS en FROM c WHERE n > 0)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(i AS BIGINT) AS seq_id,
           CAST(greatest(st - i * 128, 0) AS BIGINT) AS beg,
           CAST(least(en - i * 128, 128) AS BIGINT) AS fin
    FROM s, UNNEST(range(st // 128, (en - 1) // 128 + 1)) AS t(i)
    """,
)
def pack_sequences(spark, sf_dir):
    """GPT-style concat-and-split sequence packing at seq_len=128 over
    the documents table, verified span-for-span against a DuckDB global
    window cumsum — proving the distributed two-pass prefix-sum (bucket
    cumsum + driver-side bucket offsets) equals the single-task global
    window it replaces at scale."""
    cat = catalog_for(spark, sf_dir)
    out = _samp.pack_sequences(cat.table("documents"), seq_len=128)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


@register(
    "text_gopher_filter",
    r"""
    WITH toks AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS ws,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
        len(ws) AS n_words,
        round(list_sum(list_transform(ws, w -> length(w))) * 1.0
              / greatest(len(ws), 1), 6) AS mean_word_len,
        round((length(text) - length(replace(text, '#', ''))
               + (length(text) - length(replace(text, '...', ''))) / 3.0)
              / greatest(len(ws), 1), 6) AS symbol_word_ratio,
        round(len(list_filter(lines, l -> regexp_matches(trim(l), '^([-*•])'))) * 1.0
              / greatest(len(lines), 1), 6) AS bullet_line_frac,
        round(len(list_filter(lines, l -> rtrim(l) LIKE '%...')) * 1.0
              / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
        round(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0
              / greatest(len(ws), 1), 6) AS alpha_word_frac,
        len(list_intersect(list_transform(ws, w -> lower(w)),
            ['the','be','to','of','and','that','have','with'])) AS stop_hits
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
           CAST(n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3 AND 10
                AND symbol_word_ratio <= 0.1
                AND bullet_line_frac <= 0.9
                AND ellipsis_line_frac <= 0.3
                AND alpha_word_frac >= 0.8
                AND stop_hits >= 2 AS INT) AS gopher_keep
    FROM m
    """,
)
def text_gopher_filter(spark, sf_dir):
    """The published Gopher document-level filter rules (Rae et al.
    2021, Table A1): word-count bounds, mean word length, symbol-to-word
    ratio, bullet/ellipsis line fractions, alpha-word fraction, stopword
    presence — each a per-row Catalyst expression over a materialized
    token array (zero shuffle) plus the combined keep decision."""
    cat = catalog_for(spark, sf_dir)
    out = _text.gopher_quality_flags(cat.table("documents"))
    return out.withColumn("gopher_keep", F.col("gopher_keep").cast("int"))


@register(
    "dedup_canonical",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i, t FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ), e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(v, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.v
    ), comp AS (
      SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v
    ), ranked AS (
      SELECT comp.doc_id, component, length(d.text) AS q,
             row_number() OVER (PARTITION BY component
                                ORDER BY length(d.text) DESC, comp.doc_id ASC) AS rn
      FROM comp JOIN documents d ON d.doc_id = comp.doc_id
    ), winners AS (
      SELECT component, doc_id AS canonical_id FROM ranked WHERE rn = 1
    )
    SELECT r.doc_id, w.canonical_id,
           CAST(r.doc_id = w.canonical_id AS INT) AS is_canonical
    FROM ranked r JOIN winners w USING (component)
    """,
)
def dedup_canonical(spark, sf_dir):
    """Canonical-representative selection after near-dup clustering:
    each cluster keeps its BEST-QUALITY member (here quality = text
    length; highest wins, lowest id on ties) instead of an arbitrary
    survivor — the step a training pipeline runs so dedup keeps the
    cleanest copy. CC label propagation + one per-component max_by +
    broadcast winners join-back."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents").withColumn("quality", F.length("text"))
    pairs = _dedup.ngram_jaccard_pairs(cat.table("documents"), threshold=0.5)
    out = _graph.canonical_by_quality(docs, pairs)
    return out.withColumn("is_canonical", F.col("is_canonical").cast("int"))


# ---------------------------------------------------------------------------
# SPARQL gates. The WatDiv-style breadth suite
# (tests/test_watdiv.py) proves compiler agreement at pytest level; these
# three gates put the SPARQL->Datalog->DataFrame path (sparql.clj,
# watdiv_crux.clj:22-27) under a DuckDB oracle too, one per
# WatDiv template family: star (S), snowflake+UNION (F/C), property-path
# closure (P). The graph is the sf_dir catalog itself (predicates map to
# catalog attributes by IRI local name, pivot_triples convention), so the
# oracle is plain SQL over the same parquet.
# ---------------------------------------------------------------------------


@register(
    "sparql_star_filter",
    """
    SELECT c_name AS cname, round(c_acctbal, 2) AS bal, n_name AS nname
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
    """,
)
def sparql_star_filter(spark, sf_dir):
    """WatDiv S-template shape: star around ?c (literal-object triple +
    FILTER) joined to a dimension — through the full SPARQL compiler
    (sparql.clj triple patterns/Compare; watdiv S family)."""
    from crux_spark.sources.sparql import sparql_to_datalog

    cat = catalog_for(spark, sf_dir)
    out = q(
        cat,
        sparql_to_datalog(
            """
            SELECT ?cname ?bal ?nname WHERE {
              ?c <http://tpch/c_name> ?cname .
              ?c <http://tpch/c_acctbal> ?bal .
              ?c <http://tpch/c_mktsegment> "BUILDING" .
              ?c <http://tpch/c_nationkey> ?nk .
              ?n <http://tpch/n_nationkey> ?nk .
              ?n <http://tpch/n_name> ?nname .
              FILTER (?bal > 9000)
            }"""
        ),
    )
    return out.withColumn("bal", F.round("bal", 2))


@register(
    "sparql_snowflake_union",
    """
    SELECT c_name AS cname, n_name AS nname, round(o_totalprice, 2) AS tp
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
      AND r_name IN ('ASIA', 'EUROPE')
    """,
)
def sparql_snowflake_union(spark, sf_dir):
    """WatDiv F/C-template shape: a 4-hop snowflake (orders -> customer
    -> nation -> region) with a UNION over the region branch and a
    numeric FILTER — SPARQL Union + Compare through the compiler
    (sparql.clj Union/LeftJoin walk)."""
    from crux_spark.sources.sparql import sparql_to_datalog

    cat = catalog_for(spark, sf_dir)
    out = q(
        cat,
        sparql_to_datalog(
            """
            SELECT ?cname ?nname ?tp WHERE {
              ?o <http://tpch/o_custkey> ?ck .
              ?o <http://tpch/o_totalprice> ?tp .
              ?o <http://tpch/o_orderpriority> "1-URGENT" .
              ?c <http://tpch/c_custkey> ?ck .
              ?c <http://tpch/c_name> ?cname .
              ?c <http://tpch/c_nationkey> ?nk .
              ?n <http://tpch/n_nationkey> ?nk .
              ?n <http://tpch/n_name> ?nname .
              ?n <http://tpch/n_regionkey> ?rk .
              { ?r <http://tpch/r_regionkey> ?rk .
                ?r <http://tpch/r_name> "ASIA" }
              UNION
              { ?r <http://tpch/r_regionkey> ?rk .
                ?r <http://tpch/r_name> "EUROPE" }
              FILTER (?tp > 250000)
            }"""
        ),
    )
    return out.withColumn("tp", F.round("tp", 2))


@register(
    "sparql_path_closure",
    """
    WITH RECURSIVE edges AS (
      SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS src,
             'n' || CAST(n_nationkey + 1 AS VARCHAR) AS dst
      FROM nation WHERE (n_nationkey + 1) % 5 <> 0 AND n_nationkey + 1 <= 24
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS x, dst AS y FROM reach
    """,
)
def sparql_path_closure(spark, sf_dir):
    """WatDiv P-template shape: `?x p+ ?y` property-path transitive
    closure with BOTH endpoints unbound (sparql.clj:257
    ArbitraryLengthPath -> <pred>-PLUS recursive rule; the engine runs
    log2(diameter) squaring rounds) over a chain graph derived
    deterministically from nation, oracled by WITH RECURSIVE."""
    from crux_spark.sources.sparql import sparql_to_datalog

    cat = catalog_for(spark, sf_dir)
    edges = (
        cat.table("nation")
        .filter(
            ((F.col("n_nationkey") + 1) % 5 != 0)
            & (F.col("n_nationkey") + 1 <= 24)
        )
        .select(
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("_id"),
            F.concat(
                F.lit("n"), (F.col("n_nationkey") + 1).cast("string")
            ).alias("next"),
        )
    )
    ecat = Catalog(spark)
    ecat.add_documents("chain", edges)
    return q(
        ecat,
        sparql_to_datalog(
            "SELECT ?x ?y WHERE { ?x <http://tpch/next>+ ?y }"
        ),
    )


@register(
    "epoch_shard_shuffle",
    """
    SELECT doc_id, shard, idx FROM (
      SELECT doc_id,
             CAST((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) % 16
                  AS INT) AS shard,
             CAST(row_number() OVER (
               PARTITION BY CAST((strpos('0123456789abcdef',
                                          substr(k, 1, 1)) - 1) % 16 AS INT)
               ORDER BY k, doc_id) AS BIGINT) AS idx
      FROM (SELECT doc_id, md5('s7:2:' || CAST(doc_id AS VARCHAR)) AS k
            FROM documents)
    )
    """,
)
def epoch_shard_shuffle(spark, sf_dir):
    """Deterministic per-epoch shuffle + shard assignment for training
    export (seeded md5 permutation; per-shard ordered index; one
    hash-shuffle + per-shard window, never a global total-order sort) —
    oracled cell-for-cell against DuckDB's md5/row_number."""
    cat = catalog_for(spark, sf_dir)
    out = _samp.epoch_shard_shuffle(
        cat.table("documents"), seed="s7", epoch=2, n_shards=16
    )
    return out.select("doc_id", "shard", "idx")


@register(
    "dedup_substring_spans",
    """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), toks AS (
      SELECT doc_id, gs.pos::INT AS pos, w[gs.pos] AS tok, len(w) AS ntok
      FROM ws, LATERAL (SELECT unnest(range(1, len(w)+1)) AS pos) gs
    ), wins AS (
      SELECT doc_id, pos, string_agg(tok, chr(31)) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS g, ntok
      FROM toks QUALIFY pos <= ntok - 9
    ), dup AS (
      SELECT g FROM wins GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ), dwin AS (
      SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (g)
    ), flagged AS (
      SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 9) OVER (
          PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        THEN 1 ELSE 0 END AS nw
      FROM dwin
    ), isl AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM flagged
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end
      FROM isl GROUP BY doc_id, isl
    ), ntok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens,
           CAST(any_value(n_tokens) AS INT) AS n_tokens,
           round(sum(span_end - span_start + 1)::DOUBLE
                 / any_value(n_tokens), 6) AS dup_frac
    FROM spans s JOIN ntok USING (doc_id) GROUP BY s.doc_id
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Cross-document exact substring dedup at the SPAN level (Lee et
    al. 2021, arXiv:2107.06499): per-doc count/volume/fraction of
    maximal >=10-token spans shared verbatim with another document —
    sliding window hashes -> one cross-doc shuffle -> gaps-and-islands
    interval union. Oracled against the full windowed-string_agg
    construction in DuckDB (grams compared as strings there; 64-bit
    hashes here)."""
    cat = catalog_for(spark, sf_dir)
    out = _dedup.duplicate_span_stats(cat.table("documents"), n=10)
    return out.select(
        "doc_id",
        "n_spans",
        "dup_tokens",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "dup_frac",
    )


@register(
    "dedup_span_trim",
    """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), toks AS (
      SELECT doc_id, gs.pos::INT AS pos, w[gs.pos] AS tok, len(w) AS ntok
      FROM ws, LATERAL (SELECT unnest(range(1, len(w)+1)) AS pos) gs
    ), wins AS (
      SELECT doc_id, pos, string_agg(tok, chr(31)) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS g, ntok
      FROM toks QUALIFY pos <= ntok - 9
    ), marked AS (
      SELECT doc_id, pos, g,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
             count(DISTINCT doc_id) OVER (PARTITION BY g) AS ndocs
      FROM wins
    ), cut AS (
      SELECT DISTINCT doc_id, pos FROM marked WHERE ndocs >= 2 AND rn > 1
    ), flagged AS (
      SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 9) OVER (
          PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        THEN 1 ELSE 0 END AS nw
      FROM cut
    ), isl AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM flagged
    ), iv AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e
      FROM isl GROUP BY doc_id, isl
    ), keptt AS (
      SELECT t.doc_id, t.pos, t.tok FROM toks t
      WHERE NOT EXISTS (SELECT 1 FROM iv
                        WHERE iv.doc_id = t.doc_id
                          AND t.pos BETWEEN iv.s AND iv.e)
    )
    SELECT d.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
           CAST(any_value(len(string_split(d.text, ' '))) AS INT) AS n_tokens,
           CAST(count(k.pos) AS INT) AS kept_tokens
    FROM documents d LEFT JOIN keptt k USING (doc_id)
    GROUP BY d.doc_id
    """,
)
def dedup_span_trim(spark, sf_dir):
    """The cut step of span-level exact-substring dedup (Lee et al.
    2021 §4): the corpus-first occurrence of each duplicated >=10-token
    window wins; every other occurrence is cut (maximal merged
    intervals) and the surviving tokens reassemble in order. Full-text
    DuckDB oracle — clean_text compared verbatim for all docs."""
    cat = catalog_for(spark, sf_dir)
    return _dedup.trim_duplicate_spans(cat.table("documents"), n=10)


@register(
    "select_token_budget",
    """
    SELECT doc_id, n_chars, n_tokens,
           coalesce(cum_before, 0) AS cum_before FROM (
      SELECT doc_id, n_chars,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
               AS n_tokens,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
                    OVER (ORDER BY n_chars DESC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS cum_before
      FROM documents
    ) WHERE coalesce(cum_before, 0) < 20000
    """,
)
def select_token_budget(spark, sf_dir):
    """Quality-ranked selection under a token budget (fill a pretraining
    token quota from the top of a ranking): docs in (n_chars desc,
    doc_id) order until 20k tokens, budget-crossing doc included. The
    engine computes the global prefix-sum with the two-pass
    quantile-bucketed scan (no single-task global sort); the oracle is
    DuckDB's window cumsum — cell-for-cell including cum_before."""
    cat = catalog_for(spark, sf_dir)
    out = _samp.select_token_budget(
        cat.table("documents"), budget=20_000, quality_col="n_chars"
    )
    return out.select(
        "doc_id",
        "n_chars",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "cum_before",
    )


@register(
    "dedup_line_trim",
    r"""
    WITH dw AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS ws
      FROM documents
    ), wr AS (
      SELECT doc_id,
             string_agg(array_to_string(ws[i:i+11], ' '), chr(10)
                        ORDER BY i) AS text
      FROM dw, UNNEST(range(1, len(ws)+1, 12)) AS t(i)
      GROUP BY doc_id
    ), l AS (
      SELECT w.doc_id, i AS idx, ls[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM wr) w,
           UNNEST(range(1, len(ls)+1)) AS t(i)
    ), d AS (
      SELECT l.*,
             count(distinct doc_id) OVER (PARTITION BY trim(line)) AS nd,
             row_number() OVER (PARTITION BY trim(line)
                                ORDER BY doc_id, idx) AS rn
      FROM l WHERE length(trim(line)) >= 1
    ), cut AS (SELECT doc_id, idx FROM d WHERE nd >= 2 AND rn > 1)
    SELECT l.doc_id,
           coalesce(string_agg(l.line, chr(10) ORDER BY l.idx)
                      FILTER (WHERE c.idx IS NULL), '') AS clean_text,
           CAST(count(*) AS INT) AS n_lines,
           CAST(count(*) FILTER (WHERE c.idx IS NULL) AS INT) AS kept_lines
    FROM l LEFT JOIN cut c ON l.doc_id = c.doc_id AND l.idx = c.idx
    GROUP BY l.doc_id
    """,
)
def dedup_line_trim(spark, sf_dir):
    """Cross-document line-level dedup (RefinedWeb/MassiveText
    boilerplate removal, keep-first semantics): the corpus has no
    newline structure, so BOTH engines first rewrap each doc into
    12-token lines (deterministic, aligned — 96 cross-doc duplicate
    lines at sf0.01), then cut every non-first occurrence of a line
    repeated across >= 2 docs and reassemble. clean_text compared
    VERBATIM for all docs against the DuckDB window/row_number
    construction."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(F.lit(1), F.greatest(F.size(ws), F.lit(1)), F.lit(12))
    wrapped = F.array_join(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(ws, i, 12))),
        "\n",
    )
    rew = docs.select("doc_id", wrapped.alias("text"))
    return _dedup.trim_duplicate_lines(rew, min_docs=2, min_chars=1)


@register(
    "source_cap_topn",
    """
    SELECT doc_id, source, n_chars, CAST(rk AS INT) AS rk FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
)
def source_cap_topn(spark, sf_dir):
    """Per-source document cap (the per-domain cap of web-corpus
    curation: no source may dominate the mix): keep each source's top
    10 docs by (n_chars desc, doc_id) — one hash-shuffle on source +
    per-group row_number, no global sort. Cell-for-cell vs DuckDB's
    window."""
    cat = catalog_for(spark, sf_dir)
    out = _samp.cap_per_group(
        cat.table("documents"),
        "source",
        10,
        order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        keep_rank=True,
    )
    return out.select("doc_id", "source", "n_chars", "rk")


@register(
    "bigram_lm_quality",
    r"""
    WITH dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, ws[i] AS ctx, ws[i] || ' ' || ws[i+1] AS big
      FROM dw, UNNEST(range(1, greatest(len(ws)-1, 0)+1)) AS t(i)
    ), bf AS (SELECT big, count(*) AS cnt FROM bg GROUP BY big),
    cf AS (SELECT ctx, count(*) AS ccnt FROM bg GROUP BY ctx),
    vocab AS (SELECT big, cnt FROM bf ORDER BY cnt DESC, big LIMIT 65536),
    lp AS (
      SELECT g.doc_id,
             ln((coalesce(v.cnt, 0) + 0.5) / (cf.ccnt + 0.5 * 65537)) AS lp
      FROM bg g LEFT JOIN vocab v ON g.big = v.big
                JOIN cf ON g.ctx = cf.ctx
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(lp), 6) AS nll,
           round(exp(-avg(lp)), 4) AS ppl
    FROM lp GROUP BY doc_id
    """,
)
def bigram_lm_quality(spark, sf_dir):
    """Conditional-bigram LM quality score (one step from unigram
    toward CCNet's KenLM scorer): per-doc mean NLL of p(w|v) under the
    corpus's own add-alpha bigram distribution — word-salad order now
    scores worse than natural order over the SAME bag of words.
    Verified value-for-value against the DuckDB construction."""
    cat = catalog_for(spark, sf_dir)
    return _text.bigram_nll_scores(cat.table("documents"))


@register(
    "text_clf_score",
    r"""
    WITH dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), w AS (
      SELECT doc_id, len(ws) AS n_tokens,
             list_transform(ws, t ->
               ((strpos('0123456789abcdef',
                        substr(md5('clf:' || t), 1, 1)) - 1) * 4096.0
                + (strpos('0123456789abcdef',
                          substr(md5('clf:' || t), 2, 1)) - 1) * 256.0
                + (strpos('0123456789abcdef',
                          substr(md5('clf:' || t), 3, 1)) - 1) * 16.0
                + (strpos('0123456789abcdef',
                          substr(md5('clf:' || t), 4, 1)) - 1))
               / 32767.5 - 1.0) AS wl
      FROM dw
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           round(list_sum(wl) / n_tokens, 6) AS raw,
           round(1.0 / (1.0 + exp(-4.0 * (list_sum(wl) / n_tokens))), 6)
             AS score
    FROM w WHERE n_tokens > 0
    """,
)
def text_clf_score(spark, sf_dir):
    """Hashed linear classifier inference (fastText/VW hashing trick):
    token -> md5 16-bit bucket -> weight in [-1,1), per-doc mean,
    sigmoid — ZERO-shuffle per-row Catalyst array fold, scores
    bit-deterministic (fold order = array order) and verified
    cell-for-cell against the DuckDB reconstruction of the same hash
    space."""
    cat = catalog_for(spark, sf_dir)
    return _text.hashed_classifier_score(cat.table("documents"))


@register(
    "bloom_decontaminate",
    r"""
    WITH dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ws
      FROM documents),
    bsh AS (
      SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS sh
      FROM dw, UNNEST(range(1, greatest(len(ws)-4, 0)+1)) AS t(i)
      WHERE doc_id % 89 = 0),
    dsh AS (
      SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
      FROM dw, UNNEST(range(1, greatest(len(ws)-4, 0)+1)) AS t(i)
      WHERE doc_id % 89 <> 0)
    SELECT doc_id, CAST(count(DISTINCT dsh.sh) AS BIGINT) AS n_shared
    FROM dsh JOIN bsh USING (sh)
    GROUP BY doc_id
    """,
)
def bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered exact decontamination (sampling.py
    bloom_decontaminate): the benchmark's shingle hashes compress into a
    broadcast bitset tested per corpus shingle in vectorized Arrow
    batches — negatives are a map-only scan, only Bloom hits pay the
    exact join. The oracle is the PLAIN exact decontamination: a
    hash-match proves the prefilter+verify pipeline loses nothing and
    admits nothing (false positives stripped by the verify join)."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    train = docs.filter(F.col("doc_id") % 89 != 0)
    return _samp.bloom_decontaminate(train, bench, n=5)


def _kmeans_ctes(k: int = 8, iterations: int = 3, quant: int = 6) -> str:
    """Unrolled Lloyd's iterations as DuckDB CTEs (shared by the kmeans
    and semdedup oracles): assignment = row_number over (quantized
    euclidean distance, cluster id); centroid update = elementwise avg
    via index unnest, quantized; empty clusters keep the previous
    centroid (LEFT JOIN + COALESCE). Mirrors kmeans_assign's quantized
    trajectory exactly (similarity.py). The final assignment CTE is
    a{iterations}."""
    q = quant
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,"
        f" list_transform(v, x -> round(x, {q})) AS v"
        f" FROM e ORDER BY vec_id LIMIT {k}),",
    ]
    prev = "c0"
    for it in range(1, iterations + 1):
        parts.append(
            f"a{it} AS (SELECT vec_id, cid, dist FROM ("
            f"SELECT e.vec_id, {prev}.cid,"
            f" round(list_distance(e.v, {prev}.v), {q}) AS dist,"
            f" row_number() OVER (PARTITION BY e.vec_id ORDER BY"
            f" round(list_distance(e.v, {prev}.v), {q}), {prev}.cid) AS rn"
            f" FROM e CROSS JOIN {prev}) WHERE rn = 1),"
        )
        if it == iterations:
            break
        parts.append(
            f"m{it} AS (SELECT cid, i, round(avg(x), {q}) AS m FROM ("
            f"SELECT a{it}.cid, t.i, e.v[t.i] AS x"
            f" FROM a{it} JOIN e USING (vec_id),"
            f" UNNEST(range(1, len(e.v) + 1)) AS t(i)) GROUP BY cid, i),"
        )
        parts.append(
            f"u{it} AS (SELECT cid, list(m ORDER BY i) AS v FROM m{it} GROUP BY cid),"
        )
        parts.append(
            f"c{it} AS (SELECT {prev}.cid, COALESCE(u{it}.v, {prev}.v) AS v"
            f" FROM {prev} LEFT JOIN u{it} USING (cid)),"
        )
        prev = f"c{it}"
    return "\n".join(parts).rstrip().rstrip(",")


def _kmeans_oracle_sql(k: int = 8, iterations: int = 3, quant: int = 6) -> str:
    return _kmeans_ctes(k, iterations, quant) + (
        f"\nSELECT vec_id, CAST(cid AS INT) AS cluster, dist"
        f" FROM a{iterations}"
    )


def _semdedup_oracle_sql(
    k: int = 8, iterations: int = 3, quant: int = 6, threshold: float = 0.45
) -> str:
    """SemDeDup oracle: the shared k-means CTEs, then within-cluster
    pairs only — a vector is dropped when a lower-id cluster-mate sits
    at rounded cosine >= threshold (keep-first rule)."""
    a = f"a{iterations}"
    return _kmeans_ctes(k, iterations, quant) + (
        f""",
    drp AS (
      SELECT x.vec_id, min(y.vec_id) AS dup_of
      FROM {a} x JOIN {a} y ON x.cid = y.cid AND y.vec_id < x.vec_id
      JOIN e ex ON ex.vec_id = x.vec_id
      JOIN e ey ON ey.vec_id = y.vec_id
      WHERE round(list_cosine_similarity(ex.v, ey.v), {quant}) >= {threshold}
      GROUP BY x.vec_id)
    SELECT {a}.vec_id, CAST({a}.cid AS INT) AS cluster,
           (drp.dup_of IS NULL) AS keep, drp.dup_of
    FROM {a} LEFT JOIN drp USING (vec_id)"""
    )


@register("kmeans_embeddings", _kmeans_oracle_sql())
def kmeans_embeddings(spark, sf_dir):
    """Distributed Lloyd's k-means document clustering
    (similarity.py kmeans_assign): per-iteration map-only Arrow
    assignment against broadcast centroids + ONE partial-aggregated
    shuffle for the elementwise means; quantized trajectory makes the
    result a pure function of the data, verified cell-for-cell against
    the DuckDB unrolled-iteration reconstruction."""
    cat = catalog_for(spark, sf_dir)
    return _sim.kmeans_assign(cat.table("embeddings"), k=8, iterations=3)


@register(
    "ann_sq8",
    """
    SELECT vec_id + 1000000 AS query_id, vec_id,
           round(list_cosine_similarity(
             list_prepend(CAST(embedding[1] AS DOUBLE) + 0.001,
                          CAST(embedding[2:] AS DOUBLE[])),
             CAST(embedding AS DOUBLE[])), 6) AS sim,
           1 AS rank
    FROM embeddings WHERE vec_id < 25
    """,
)
def ann_sq8(spark, sf_dir):
    """Scalar-quantization (SQ8) ANN with a DuckDB-checkable answer
    (the ann_ivf/ann_pq perturbed-query pattern): per-dimension uint8
    codes against global min/max bounds score a dequantized dot product
    to shortlist candidates; exact re-rank returns true cosines. A
    hash-match proves the 1-byte/dim representation routes each
    perturbed query's shortlist to contain its original vector AND the
    re-rank surfaces it at rank 1. At 100 TB the scoring pass reads dim
    bytes/vector; bounds are one distributed min/max aggregate."""
    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings")
    ck = (id(spark), sf_dir)
    if ck not in _SQ8_BOUNDS:
        _SQ8_BOUNDS[ck] = _sim.sq8_train(emb)
    queries_df = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == 0, x + F.lit(0.001)).otherwise(x),
        ).alias("embedding"),
    )
    return _sim.sq8_topk(
        emb, queries_df, bounds=_SQ8_BOUNDS[ck], k=1, shortlist=32
    )


@register("semantic_dedup", _semdedup_oracle_sql())
def semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup of the embedding
    corpus — distributed quantized k-means confines the quadratic
    cosine step to WITHIN each cluster (the paper's core trick: never
    all-pairs), keep-first drop rule. Every vector returns
    (vec_id, cluster, keep, dup_of); oracle reconstructs the identical
    clustering + within-cluster join in DuckDB."""
    cat = catalog_for(spark, sf_dir)
    return _sim.semantic_dedup(
        cat.table("embeddings"), k=8, iterations=3, threshold=0.45
    )


@register(
    "text_c4_filter",
    r"""
    WITH dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    built AS (
      SELECT doc_id,
             array_to_string(
               list_transform(range(1, greatest(len(ws), 1) + 1, 4),
                              i -> array_to_string(ws[i:i+3], ' ') || '.'),
               chr(10))
             || CASE WHEN doc_id % 13 = 0
                     THEN chr(10) || 'enable javascript to proceed.'
                     ELSE '' END
             || CASE WHEN doc_id % 17 = 0
                     THEN chr(10) || 'lorem ipsum dolor sit.'
                     ELSE '' END
             || CASE WHEN doc_id % 19 = 0
                     THEN chr(10) || 'see { config } block.'
                     ELSE '' END AS text
      FROM dw),
    lined AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             (contains(text, '{') OR contains(text, '}')) AS has_brace
      FROM built),
    keptl AS (
      SELECT doc_id, lines, has_lorem, has_brace,
             list_filter(lines, l ->
               regexp_matches(rtrim(l), '[.!?"]$')
               AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                   x -> x <> '')) >= 3
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM lined)
    SELECT doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           CAST(len(kept) AS INT) AS n_kept_lines,
           CAST(length(regexp_replace(array_to_string(kept, chr(10)),
                                      '[^.!?]', '', 'g')) AS BIGINT)
             AS n_sentences,
           has_lorem, has_brace,
           (length(regexp_replace(array_to_string(kept, chr(10)),
                                  '[^.!?]', '', 'g')) >= 5
            AND NOT has_lorem AND NOT has_brace) AS c4_keep,
           array_to_string(kept, chr(10)) AS clean_text
    FROM keptl
    """,
)
def text_c4_filter(spark, sf_dir):
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) end-to-end
    (textops.c4_quality_flags). The synthetic corpus has no sentence
    structure, so BOTH engines first build it deterministically: docs
    rewrap into 4-token period-terminated lines (the trailing partial
    line trips the >=3-words rule), and every 13th/17th/19th doc gets a
    planted javascript line / 'lorem ipsum' / curly-brace line — so all
    six rules fire somewhere in the corpus and the oracle checks each
    doc's metrics, flags, keep decision and clean_text verbatim."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    ws = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(ws), F.lit(1)), F.lit(4)
    )
    body = F.array_join(
        F.transform(
            starts,
            lambda i: F.concat(F.concat_ws(" ", F.slice(ws, i, 4)), F.lit(".")),
        ),
        "\n",
    )
    did = F.col("doc_id")
    text2 = F.concat(
        body,
        F.when(did % 13 == 0, F.lit("\nenable javascript to proceed.")).otherwise(F.lit("")),
        F.when(did % 17 == 0, F.lit("\nlorem ipsum dolor sit.")).otherwise(F.lit("")),
        F.when(did % 19 == 0, F.lit("\nsee { config } block.")).otherwise(F.lit("")),
    )
    built = docs.select("doc_id", text2.alias("text"))
    return _text.c4_quality_flags(built)


@register(
    "dsir_weights",
    r"""
    WITH tgt AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
    raw AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
    tt AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS b
      FROM (SELECT doc_id, md5('dsir:' || t) AS h
            FROM (SELECT doc_id,
                         unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
                  FROM tgt)
            WHERE t <> '')
    ),
    rt AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS b
      FROM (SELECT doc_id, md5('dsir:' || t) AS h
            FROM (SELECT doc_id,
                         unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
                  FROM raw)
            WHERE t <> '')
    ),
    tc AS (SELECT b, count(*) AS ct FROM tt GROUP BY b),
    rc AS (SELECT b, count(*) AS cr FROM rt GROUP BY b),
    tots AS (SELECT (SELECT count(*) FROM tt) AS t_total,
                    (SELECT count(*) FROM rt) AS r_total),
    lam AS (
      SELECT COALESCE(tc.b, rc.b) AS b,
             ln((COALESCE(ct, 0) + 0.5) / (t_total + 0.5 * 65536))
             - ln((COALESCE(cr, 0) + 0.5) / (r_total + 0.5 * 65536)) AS lam
      FROM tc FULL JOIN rc ON tc.b = rc.b, tots
    )
    SELECT rt.doc_id, count(*) AS n_tokens,
           round(sum(lam.lam), 6) AS logw,
           round(avg(lam.lam), 6) AS logw_per_token
    FROM rt JOIN lam ON rt.b = lam.b
    GROUP BY rt.doc_id
    """,
)
def dsir_weights(spark, sf_dir):
    """DSIR importance weights (textops.dsir_log_ratios, Xie et al.
    2023): src0 plays the target domain, the other 19 sources the raw
    corpus; every raw doc scores sum/mean of hashed-unigram log ratios.
    The raw corpus always hits lam (every raw bucket has cr >= 1), so
    the oracle's inner join equals the engine's left join + floor."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    return _text.dsir_log_ratios(raw, target)


@register(
    "lucene_multi_field",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+')) AS term
      FROM documents
    ), postings AS (
      SELECT doc_id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    tscore AS (
      SELECT doc_id, round(sum(p.tf * ln(1 + n.n_docs * 1.0 / d.df)), 6) AS s
      FROM postings p JOIN dfreq d USING (term), n
      WHERE p.term = 'merge' GROUP BY doc_id
    ), sdf AS (
      SELECT count(*) AS df FROM documents WHERE lower(source) = 'src1'
    ), sscore AS (
      SELECT doc_id, round(ln(1 + n.n_docs * 1.0 / sdf.df), 6) AS s
      FROM documents, n, sdf WHERE lower(source) = 'src1'
    )
    SELECT CAST(t.doc_id AS VARCHAR) AS e, round(t.s + s.s, 2) AS score
    FROM tscore t JOIN sscore s USING (doc_id)
    """,
)
def lucene_multi_field(spark, sf_dir):
    """Multi-field QueryParser search (multi_field.clj:40-76 —
    `lucene-text-search` with `field:term` booleans) through the full
    Datalog path: the query string parses to an AST, each field term
    becomes a scored relation over that attribute's inverted index, and
    AND combines them as an eid-keyed inner join + score sum. The
    DuckDB oracle rebuilds both field scores (tf-idf body term + the
    single-token source field) cell-for-cell."""
    cat = catalog_for(spark, sf_dir)
    out = q(
        cat,
        {
            "find": ["?e", "?score"],
            "where": [
                [["lucene-text-search", "source:src1 AND text:merge"],
                 [["?e", "?score"]]],
            ],
        },
    )
    return out.select("e", F.round("score", 2).alias("score"))


@register(
    "mix_temperature",
    r"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 < 1 THEN 'a'
                  WHEN doc_id % 7 < 3 THEN 'b'
                  ELSE 'c' END AS src
      FROM documents),
    c AS (SELECT src, count(*) AS n FROM d GROUP BY src),
    t AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS denom FROM c),
    r AS (
      SELECT src, n,
             floor((pow(n, 0.5) / denom) * (1.0 * tot) / n * 16 + 0.5) / 16.0 AS rate,
             row_number() OVER (ORDER BY src) - 1 AS sidx
      FROM c, t),
    fe AS (
      SELECT d.doc_id, r.sidx, CAST(t.e AS INT) AS epoch
      FROM d JOIN r USING (src),
           UNNEST(range(0, CAST(floor(r.rate) AS BIGINT))) AS t(e)),
    fr AS (
      SELECT d.doc_id, r.sidx, CAST(floor(r.rate) AS INT) AS epoch
      FROM d JOIN r USING (src)
      WHERE strpos('0123456789abcdef',
                   substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1
            < CAST(round((r.rate - floor(r.rate)) * 16, 0) AS INT))
    SELECT doc_id, CAST(sidx AS INT) AS source, epoch FROM fe
    UNION ALL
    SELECT doc_id, CAST(sidx AS INT) AS source, epoch FROM fr
    """,
)
def mix_temperature(spark, sf_dir):
    """Temperature/alpha-sampling mixture (sampling.temperature_mix,
    Conneau et al. 2020 §3.1): three deliberately uneven pseudo-sources
    (~1:2:4 by doc_id mod 7) mixed at alpha=0.5 — the small source
    upsamples past 1.0 (full-epoch replication), the big one
    downsamples, and the md5-sixteenth quantization makes the exact
    member set reproducible in DuckDB. One tiny per-source count agg;
    the mixture itself is a union of narrow filters, zero shuffle."""
    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 < 1, "a")
        .when(F.col("doc_id") % 7 < 3, "b")
        .otherwise("c")
        .alias("src"),
    )
    out = _samp.temperature_mix(
        docs, source_col="src", alpha=0.5, budget_ratio=1.0, method="md5"
    )
    return out.select("doc_id", F.col("source").cast("int").alias("source"), "epoch")


@contextlib.contextmanager
def _stream_state_shuffle(spark, input_dir: str, n_source_splits: int):
    """Scale-adaptive state partitioning for stateful Structured
    Streaming (r15 optimization, guide §2.2/§2.4): Spark DISABLES AQE
    for stateful workloads, so the post-shuffle coalescing every batch
    query here gets for free never happens — each micro-batch pays a
    fixed per-partition state-store open/commit cost on ALL
    spark.sql.shuffle.partitions partitions, per stateful operator.
    Apply the same sizing rule AQE would: partitions ~ input bytes /
    advisoryPartitionSizeInBytes, but never below the source's own
    split count (shrinking below the scan's parallelism would serialize
    the per-trigger map work), and never above the session parallelism.
    Identical results by construction — state partitioning only shards
    the exchange.
    Measured (sf0.1, local[32]): 32 state partitions -> 7-9s per
    streaming gate, 4 -> ~2.4s, identical rows.

    NOTE: mutates the session-global shuffle.partitions for the
    stream's duration (restored on exit). Gates run one at a time, so
    no concurrent query observes the window."""
    import math as _math

    from crux_spark._conf import input_size_bytes, parse_byte_size

    # Hadoop FS content summary: works for any input scheme the cluster
    # can read (hdfs://, s3a://), not only paths on the driver's disk.
    nbytes = input_size_bytes(spark, input_dir)
    adv = parse_byte_size(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None),
        64 << 20,  # AQE advisoryPartitionSizeInBytes default
    )
    parts = max(n_source_splits, _math.ceil(nbytes / max(adv, 1)))
    parts = max(1, min(parts, spark.sparkContext.defaultParallelism))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@register(
    "streaming_rollup_oracle",
    """
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(round(sum(value * 100), 0) AS BIGINT) AS total_cents
    FROM events GROUP BY 1, 2
    """,
)
def streaming_rollup_oracle(spark, sf_dir):
    """Structured Streaming daily rollup with a FULL DuckDB oracle —
    the first §2.9 gate whose result is value-checked, not just
    rows-counted: events replay through a file-source stream one file
    per micro-batch (maxFilesPerTrigger=1 over a 4-file rewrite, so
    the aggregation state genuinely accumulates across triggers),
    complete-mode memory sink, availableNow trigger. The finished
    table must equal the batch GROUP BY — which is exactly the
    replay-determinism contract streaming ingest is built on
    (streaming/ingest.py). Sums compare as integer cents so
    arrival-order float accumulation cannot flip a rounding."""
    import tempfile
    import uuid

    cat = catalog_for(spark, sf_dir)
    ev = cat.table("events").select("ts", "event_type", "value")
    d = tempfile.mkdtemp(prefix="crux_stream_ev_")
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(d)
    name = "strm_" + uuid.uuid4().hex[:8]
    agg = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") * 100), 0)
            .cast("long")
            .alias("total_cents"),
        )
    )
    with _stream_state_shuffle(spark, d, 4):
        sq = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
    return spark.table(name).select("day", "event_type", "n", "total_cents")


@register(
    "streaming_dedup_oracle",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(value * 100), 0) AS BIGINT) AS total_cents
    FROM events GROUP BY 1
    """,
)
def streaming_dedup_oracle(spark, sf_dir):
    """Streaming exact-dedup with a FULL DuckDB oracle (§2.9): the
    events table replays TWICE (an at-least-once redelivery, split
    across 4 files at one file per micro-batch so duplicates arrive in
    different triggers), dropDuplicates on the event key holds state
    across triggers, and the deduped per-type totals must equal the
    batch aggregate over the ORIGINAL table — the exactly-once-effect
    contract of the streaming ingest path (streaming/ingest.py's
    at-least-once tx_id dedup is this same shape)."""
    import tempfile
    import uuid

    cat = catalog_for(spark, sf_dir)
    ev = cat.table("events").select("event_id", "ts", "event_type", "value")
    d = tempfile.mkdtemp(prefix="crux_stream_dd_")
    # range-partition on (copy, event_id): the first replay fills the
    # low files, the redelivery the high files, so EVERY duplicate pair
    # crosses a trigger boundary (ranging on event_id alone would put
    # both copies in the same file and dedup them inside one trigger,
    # never touching the cross-trigger state)
    doubled = ev.withColumn("__copy", F.lit(0)).unionByName(
        ev.withColumn("__copy", F.lit(1))
    )
    doubled.repartitionByRange(4, "__copy", "event_id").drop(
        "__copy"
    ).write.mode("overwrite").parquet(d)
    name = "strm_" + uuid.uuid4().hex[:8]
    agg = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") * 100), 0)
            .cast("long")
            .alias("total_cents"),
        )
    )
    with _stream_state_shuffle(spark, d, 4):
        sq = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
    return spark.table(name).select("event_type", "n", "total_cents")


@register(
    "datalog_mixed_type_order",
    r"""
    WITH ks AS (SELECT r_regionkey AS k FROM region),
    rows_all AS (
      SELECT 5 AS tag, CAST(v AS VARCHAR) AS val,
             CAST(v AS DOUBLE) AS onum, NULL::TIMESTAMP AS ots,
             NULL::VARCHAR AS ostr, NULL::DECIMAL(38,12) AS odec,
             NULL::DATE AS odt, NULL::DECIMAL(38,0) AS obig,
             NULL::TIME AS otime
      FROM (SELECT ([100,2,512,10,33])[k+1] AS v FROM ks)
      UNION ALL
      SELECT 6, CAST(v AS VARCHAR), v, NULL, NULL, NULL, NULL, NULL, NULL
      FROM (SELECT CAST(([4.25,0.5,5.5,1.75,3.0])[k+1] AS DOUBLE) AS v
            FROM ks)
      UNION ALL
      SELECT 7, CAST(v AS VARCHAR), NULL, v, NULL, NULL, NULL, NULL, NULL
      FROM (SELECT TIMESTAMP '2024-01-01 00:00:00'
                   + to_days(CAST(k AS INTEGER)) AS v FROM ks)
      UNION ALL
      SELECT 8, v, NULL, NULL, v, NULL, NULL, NULL, NULL
      FROM (SELECT (['Zeta','B10','m','B2','alpha'])[k+1] AS v FROM ks)
      UNION ALL
      SELECT 9, v, NULL, NULL, v, NULL, NULL, NULL, NULL
      FROM (SELECT (['q','a','z','C','m'])[k+1] AS v FROM ks)
      UNION ALL
      SELECT 11, CAST(v AS VARCHAR), NULL, NULL, NULL, v, NULL, NULL, NULL
      FROM (SELECT CAST((['33.40','1.10','512.99','2.25','100.05'])[k+1]
                        AS DECIMAL(38,12)) AS v FROM ks)
      UNION ALL
      SELECT 12, CAST(v AS VARCHAR), NULL, NULL, NULL, NULL, NULL, v, NULL
      FROM (SELECT CAST((['98765432109876543210',
                          '12345678901234567890123', '7',
                          '31415926535897932384626433',
                          '1000000000000000000000'])[k+1]
                        AS DECIMAL(38,0)) AS v FROM ks)
      UNION ALL
      SELECT 14, CAST(v AS VARCHAR), NULL, NULL, NULL, NULL, v, NULL, NULL
      FROM (SELECT CAST(DATE '2024-02-01'
                        + to_days(CAST(3 * k AS INTEGER)) AS DATE) AS v
            FROM ks)
      UNION ALL
      SELECT 15, CAST(v AS VARCHAR), NULL, NULL, NULL, NULL, NULL, NULL, v
      FROM (SELECT ([TIME '13:30:59', TIME '00:00:01', TIME '23:59:59',
                     TIME '07:15:00', TIME '12:00:00'])[k+1] AS v FROM ks)
      UNION ALL
      SELECT 16, CAST(v AS VARCHAR), NULL, v, NULL, NULL, NULL, NULL, NULL
      FROM (SELECT TIMESTAMP '2024-03-01 07:30:00'
                   + to_days(CAST(k AS INTEGER)) AS v FROM ks)
      UNION ALL
      SELECT 17, CAST(v AS VARCHAR), NULL, v, NULL, NULL, NULL, NULL, NULL
      FROM (SELECT TIMESTAMP '2023-12-31 18:00:00'
                   + to_hours(CAST(k AS BIGINT)) AS v FROM ks)
    ),
    ordered AS (
      SELECT *, row_number() OVER (
        ORDER BY tag, onum, ots, ostr, odec, odt, obig, otime) AS rn
      FROM rows_all
    )
    SELECT 'w0' AS win, val FROM ordered WHERE rn <= 3
    UNION ALL SELECT 'w1', val FROM ordered WHERE rn <= 13
    UNION ALL SELECT 'w2', val FROM ordered WHERE rn BETWEEN 18 AND 26
    UNION ALL SELECT 'w3', val FROM ordered WHERE tag = 5 AND onum < 50
    UNION ALL SELECT 'w4', val FROM ordered WHERE tag = 11 AND odec < 100
    UNION ALL SELECT 'w5', val FROM ordered WHERE rn BETWEEN 30 AND 35
    UNION ALL SELECT 'w6', val FROM ordered WHERE rn BETWEEN 39 AND 44
    UNION ALL SELECT 'w7', val FROM ordered WHERE rn BETWEEN 45 AND 48
    UNION ALL SELECT 'w8', val FROM ordered WHERE rn BETWEEN 50 AND 53
    UNION ALL SELECT 'w9', val FROM ordered
      WHERE tag = 12 AND obig < CAST('1000000000000000000000'
                                     AS DECIMAL(38,0))
    UNION ALL SELECT 'w10', val FROM ordered
      WHERE tag = 15 AND otime < TIME '12:00:00'
    """,
)
def datalog_mixed_type_order(spark, sf_dir):
    """Cross-type total order + range-constraint type confinement over
    the var-attr EAV path, covering the FULL codec tag spectrum the
    engine can carry (r11 verdict #4 extended r10's six classes): one
    attribute (:val) holds eleven value-type classes across eleven
    collections — long(5), double(6), timestamp(7), string(8), char(9),
    decimal(11), bigint(12), date(14), localtime(15), localdatetime(16),
    instant(17) — and order-by ?v must sort them by the reference
    codec's type-tag-then-value order (codec.clj:81-99 tag ids; value
    encodings :189-207 BCD bigint, :258-263 char, :312-347 the
    java.time classes). The gate comparison is
    order-insensitive, so the ORDER is verified through window
    MEMBERSHIP: limit/offset cuts land across tag boundaries (w2 pins
    string<char<decimal, w5 decimal<bigint + numeric bigint order incl.
    a bigint 7 that must NOT sort among longs, w6 date<localtime, w7
    localtime<localdatetime, w8 localdatetime<instant — the instant
    rows also prove Instant(17) is not conflated with Date(7), where it
    would sort before strings). w3/w4/w9/w10 pin range confinement to
    the literal's type class (query.clj:870-884's prefix-equal-on-tag
    wrapper): [(< ?v 50)] longs only, [(< ?v 100.00M)] decimals only,
    [(< ?v 1000...0N)] bigints only, [(< ?v #time 12:00)] localtimes
    only. Values derive from the 5-row region table so both engines see
    identical data at every SF. Scale: the EAV union is 11 five-row
    scans (the lazy union of every table; nothing is written);
    order-by rides the __typed_ord struct column — a columnar sort key,
    no UDFs."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    from crux_spark.valuetypes import BigInt as _Big

    cat = Catalog(spark)
    ks = catalog_for(spark, sf_dir).table("region").select(
        F.col("r_regionkey").cast("int").alias("k"))
    def arr(xs):
        return F.element_at(F.array(*[F.lit(x) for x in xs]), F.col("k") + 1)
    cat.add_documents("m_long", ks.select(
        F.concat(F.lit("L"), F.col("k")).alias("id"),
        arr([100, 2, 512, 10, 33]).cast("long").alias("val")), id_col="id")
    cat.add_documents("m_double", ks.select(
        F.concat(F.lit("D"), F.col("k")).alias("id"),
        arr([4.25, 0.5, 5.5, 1.75, 3.0]).alias("val")), id_col="id")
    cat.add_documents("m_ts", ks.select(
        F.concat(F.lit("I"), F.col("k")).alias("id"),
        (F.lit(_dt.datetime(2024, 1, 1))
         + F.make_interval(days=F.col("k"))).alias("val")), id_col="id")
    cat.add_documents("m_str", ks.select(
        F.concat(F.lit("S"), F.col("k")).alias("id"),
        arr(["Zeta", "B10", "m", "B2", "alpha"]).alias("val")), id_col="id")
    cat.add_documents("m_char", ks.select(
        F.concat(F.lit("H"), F.col("k")).alias("id"),
        arr(["q", "a", "z", "C", "m"]).alias("val"))
        .withMetadata("val", {"crux_type": "char"}), id_col="id")
    cat.add_documents("m_dec", ks.select(
        F.concat(F.lit("C"), F.col("k")).alias("id"),
        arr(["33.40", "1.10", "512.99", "2.25", "100.05"])
        .cast("decimal(18,2)").alias("val")), id_col="id")
    cat.add_documents("m_bigint", ks.select(
        F.concat(F.lit("B"), F.col("k")).alias("id"),
        arr(["98765432109876543210", "12345678901234567890123", "7",
             "31415926535897932384626433", "1000000000000000000000"])
        .cast("decimal(38,0)").alias("val"))
        .withMetadata("val", {"crux_type": "bigint"}), id_col="id")
    cat.add_documents("m_date", ks.select(
        F.concat(F.lit("T"), F.col("k")).alias("id"),
        F.date_add(F.lit(_dt.date(2024, 2, 1)), F.col("k") * 3)
        .alias("val")), id_col="id")
    _NS_H, _NS_M, _NS_S = 3600 * 10**9, 60 * 10**9, 10**9
    cat.add_documents("m_time", ks.select(
        F.concat(F.lit("M"), F.col("k")).alias("id"),
        arr([13 * _NS_H + 30 * _NS_M + 59 * _NS_S, 1 * _NS_S,
             23 * _NS_H + 59 * _NS_M + 59 * _NS_S, 7 * _NS_H + 15 * _NS_M,
             12 * _NS_H]).cast("long").alias("val"))
        .withMetadata("val", {"crux_type": "localtime"}), id_col="id")
    cat.add_documents("m_ldt", ks.select(
        F.concat(F.lit("N"), F.col("k")).alias("id"),
        (F.lit(_dt.datetime(2024, 3, 1, 7, 30))
         + F.make_interval(days=F.col("k")))
        .cast("timestamp_ntz").alias("val"))
        .withMetadata("val", {"crux_type": "localdatetime"}), id_col="id")
    cat.add_documents("m_inst", ks.select(
        F.concat(F.lit("P"), F.col("k")).alias("id"),
        (F.lit(_dt.datetime(2023, 12, 31, 18, 0))
         + F.make_interval(hours=F.col("k"))).alias("val"))
        .withMetadata("val", {"crux_type": "instant"}), id_col="id")

    base = [["?e", "?a", "?v"], [["=", "?a", ":val"]]]
    order = {"order-by": [["?v", "asc"]]}
    def window(win, spec):
        return q(cat, {"find": ["?v"], "keys": ["val"], **spec}).select(
            F.lit(win).alias("win"), "val")
    return (
        window("w0", {"where": base, **order, "limit": 3})
        .unionByName(window("w1", {"where": base, **order, "limit": 13}))
        .unionByName(window("w2", {"where": base, **order,
                                   "offset": 17, "limit": 9}))
        .unionByName(window("w3", {"where": base + [[["<", "?v", 50]]]}))
        .unionByName(window("w4", {"where": base
                                   + [[["<", "?v", _Dec("100.00")]]]}))
        .unionByName(window("w5", {"where": base, **order,
                                   "offset": 29, "limit": 6}))
        .unionByName(window("w6", {"where": base, **order,
                                   "offset": 38, "limit": 6}))
        .unionByName(window("w7", {"where": base, **order,
                                   "offset": 44, "limit": 4}))
        .unionByName(window("w8", {"where": base, **order,
                                   "offset": 49, "limit": 4}))
        .unionByName(window("w9", {"where": base
                                   + [[["<", "?v", _Big(10**21)]]]}))
        .unionByName(window("w10", {"where": base
                                    + [[["<", "?v", _dt.time(12, 0)]]]}))
    )


@register(
    "incremental_vector_index",
    """
    WITH final AS (
      SELECT 'v' || vec_id AS eid,
             CASE WHEN vec_id % 10 = 1
                  THEN list_prepend(CAST(embedding[1] AS DOUBLE) + 1.0,
                                    CAST(embedding[2:] AS DOUBLE[]))
                  ELSE CAST(embedding AS DOUBLE[]) END AS vec
      FROM embeddings WHERE vec_id < 400 AND vec_id % 10 != 0
    )
    SELECT eid,
           round(list_cosine_similarity(vec,
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
              WHERE vec_id = 3)), 6) AS sim
    FROM final ORDER BY sim DESC, eid ASC LIMIT 10
    """,
)
def incremental_vector_index(spark, sf_dir):
    """IncrementalVectorIndex maintenance semantics end-to-end
    (operators/similarity.py — the streaming sibling of ann_ivf, fed
    from tx batches like crux-lucene's tx-replay seam): batch 1 puts
    every vec_id < 400; batch 2 DELETES vec_id % 10 == 0 and RE-PUTS
    vec_id % 10 == 1 with component 0 shifted by +1.0. A top-10 search
    probing ALL cells must then equal brute-force cosine over the FINAL
    corpus state — the DuckDB oracle computes that state directly, so a
    hash-match proves put/delete/re-put merge semantics AND the cosine
    path, not just the happy ingest. Centroids are 8 sampled corpus
    vectors (bounded k x dim driver materialization, the documented IVF
    posture); nprobe = all 8 cells makes the oracle exact.  Scale: the
    per-batch merge is one left-anti join + union on eid, and search
    prunes to probed cells (cell-partitioned parquet when saved)."""
    import numpy as np

    from crux_spark.operators.similarity import IncrementalVectorIndex

    cat = catalog_for(spark, sf_dir)
    emb = cat.table("embeddings").filter(F.col("vec_id") < 400)
    # doc_json carries the embedding as array<double>: JSON round-trips
    # doubles exactly (shortest-round-trip repr), while float32 printed
    # to JSON re-parses to a *different* double than CAST(float AS
    # DOUBLE) — a 6th-decimal cosine straddle vs the oracle at sf0.1
    b1 = emb.select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("eid"),
        F.col("vec_id").cast("long").alias("tx_id"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("put").alias("op"),
        F.to_json(
            F.struct(F.col("embedding").cast("array<double>").alias("embedding"))
        ).alias("doc_json"),
    )
    shifted = F.concat(
        F.array(F.element_at("embedding", 1).cast("double") + F.lit(1.0)),
        F.slice(F.col("embedding"), 2, 100000).cast("array<double>"),
    )
    b2 = (
        emb.filter(F.col("vec_id") % 10 == 0).select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("eid"),
            (F.col("vec_id") + 10000).cast("long").alias("tx_id"),
            F.lit(0).cast("long").alias("seq"),
            F.lit("delete").alias("op"),
            F.lit(None).cast("string").alias("doc_json"),
        )
    ).unionByName(
        emb.filter(F.col("vec_id") % 10 == 1).select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("eid"),
            (F.col("vec_id") + 10000).cast("long").alias("tx_id"),
            F.lit(0).cast("long").alias("seq"),
            F.lit("put").alias("op"),
            F.to_json(F.struct(shifted.alias("embedding"))).alias("doc_json"),
        )
    )
    cents = np.asarray(
        [r.embedding for r in emb.filter(F.col("vec_id") < 8).collect()],
        dtype=np.float64,
    )
    idx = IncrementalVectorIndex(spark, cents)
    idx.listener(0, b1)
    idx.listener(1, b2)
    qvec = emb.filter(F.col("vec_id") == 3).first().embedding
    return idx.search(list(qvec), k=10, nprobe=idx.n_cells)


# ---------------------------------------------------------------------------
# Streaming incremental MinHash-LSH dedup (r13): the near-dup sibling of
# the exact streaming dedup.
# ---------------------------------------------------------------------------


@register(
    "streaming_minhash_dedup",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i, t FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def streaming_minhash_dedup(spark, sf_dir):
    """Documents arrive in three batches through IncrementalMinHashIndex
    (dedup.py); the UNION of per-batch outputs must equal the batch
    exact-similarity join — the oracle is the same exact Jaccard join
    that gates dedup_minhash_lsh, so a hash-match proves (a) banding
    recall 1.0 at threshold 0.5 with 16x2 banding holds INCREMENTALLY,
    and (b) each pair is emitted exactly once, in the batch where its
    later member arrived. Candidate generation stays a (band, bucket)
    equi-join of the new batch against the persisted postings — the
    100 TB shape: per-batch cost is O(batch x collisions), never a
    full-corpus rescan."""
    from crux_spark.operators.dedup import IncrementalMinHashIndex

    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents").select("doc_id", "text")
    idx = IncrementalMinHashIndex(
        spark, num_hashes=32, bands=16, threshold=0.5, verify="exact"
    )
    outs = [
        idx.add_batch(docs.filter(F.col("doc_id") % 3 == b))
        for b in range(3)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "sparql_group_agg",
    """
    SELECT n_name AS nname, count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal,
           round(max(c_acctbal), 2) AS top_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 0
    GROUP BY n_name
    HAVING count(*) >= 5
    """,
)
def sparql_group_agg(spark, sf_dir):
    """SPARQL 1.1 aggregation end-to-end (r13 superset of the reference,
    whose labs translator has no aggregates): GROUP BY + COUNT(*)/SUM/
    MAX with an inline-aggregate HAVING, compiled through the subquery
    rewrite (sparql.py) onto the Datalog find-aggregate surface and
    oracled against the equivalent SQL GROUP BY ... HAVING."""
    from crux_spark.sources.sparql import sparql_to_datalog

    cat = catalog_for(spark, sf_dir)
    out = q(
        cat,
        sparql_to_datalog(
            """
            SELECT ?nname (COUNT(*) AS ?n_cust) (SUM(?bal) AS ?total_bal)
                   (MAX(?bal) AS ?top_bal)
            WHERE {
              ?c <http://tpch/c_nationkey> ?nk .
              ?c <http://tpch/c_acctbal> ?bal .
              ?n <http://tpch/n_nationkey> ?nk .
              ?n <http://tpch/n_name> ?nname .
              FILTER (?bal > 0)
            }
            GROUP BY ?nname
            HAVING (COUNT(*) >= 5)
            """
        ),
    )
    return out.withColumn("total_bal", F.round("total_bal", 2)).withColumn(
        "top_bal", F.round("top_bal", 2)
    )


# ---------------------------------------------------------------------------
# Streaming MinHash est-mode (r14): the signature-agreement estimator
# path of IncrementalMinHashIndex (verify="est", dedup.py) was
# pytest-only — VERDICT r13 item 3 asks for a full oracle. The shingle
# hash is parameterized to an md5-prefix integer (dedup.md5_prefix_hash)
# that DuckDB reproduces bit-exactly, so the oracle recomputes the SAME
# 32 affine-permutation minima, bands them, and derives the identical
# (candidate, est_jaccard) relation in pure SQL.
# ---------------------------------------------------------------------------


@register(
    "streaming_minhash_est",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i, t FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), hv AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h
      FROM sh
    ), mins AS (
      SELECT doc_id, gs.i AS i,
             min((h * (2 * gs.i + 1) + (7 * gs.i + 3)) % 2147483647) AS m
      FROM hv CROSS JOIN (SELECT unnest(range(0, 32)) AS i) gs
      GROUP BY doc_id, gs.i
    ), bands AS (
      SELECT doc_id, i // 2 AS band, list(m ORDER BY i) AS sl
      FROM mins GROUP BY doc_id, i // 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sl = b.sl AND a.doc_id < b.doc_id
    ), agree AS (
      SELECT c.id_a, c.id_b,
             sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS n_eq
      FROM cand c
      JOIN mins ma ON ma.doc_id = c.id_a
      JOIN mins mb ON mb.doc_id = c.id_b AND mb.i = ma.i
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, round(n_eq / 32.0, 6) AS est_jaccard
    FROM agree
    WHERE n_eq >= 16
    """,
)
def streaming_minhash_est(spark, sf_dir):
    """verify="est" mode of IncrementalMinHashIndex: candidates still
    come from the (band, bucket) postings equi-join, but verification is
    the signature-agreement fraction (#equal positions / num_hashes) —
    the path a 100 TB corpus takes when storing exact shingle sets is
    not worth it. The oracle recomputes the same md5-prefix shingle
    hashes, the same 32 affine permutations mod 2^31-1, the same 16x2
    banding (band-slice equality == bucket equality modulo murmur
    collisions), and the same agreement fraction — a hash-match pins
    the estimator arithmetic end-to-end, incrementally across 3
    batches."""
    from crux_spark.operators.dedup import (IncrementalMinHashIndex,
                                            md5_prefix_hash)

    cat = catalog_for(spark, sf_dir)
    docs = cat.table("documents").select("doc_id", "text")
    idx = IncrementalMinHashIndex(
        spark, num_hashes=32, bands=16, threshold=0.5, verify="est",
        hash_fn=md5_prefix_hash,
    )
    outs = [
        idx.add_batch(docs.filter(F.col("doc_id") % 3 == b))
        for b in range(3)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# SPARQL 1.1 subquery gate (r14): { SELECT ... GROUP BY } nested inside
# WHERE — the per-group-max join shape (tpch_q15's correlated-max class,
# here expressed in SPARQL).
# ---------------------------------------------------------------------------


@register(
    "sparql_subquery",
    """
    SELECT n_name AS nname, c_name AS cname, c_acctbal AS bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN (
      SELECT c_nationkey AS nk, max(c_acctbal) AS mb
      FROM customer GROUP BY 1
    ) m ON c_nationkey = m.nk AND c_acctbal = m.mb
    """,
)
def sparql_subquery(spark, sf_dir):
    """SPARQL 1.1 subquery (r14 superset surface — the reference's labs
    translator has no subqueries): the inner { SELECT ?nk (MAX(?b) AS
    ?bal) GROUP BY ?nk } computes each nation's max customer balance;
    the outer pattern joins on BOTH ?nk and ?bal, yielding the
    max-balance customer(s) per nation. Compiles to the Datalog
    subquery pred with relation binding (query.clj:973-986), the same
    seam HAVING rides."""
    from crux_spark.sources.sparql import sparql_to_datalog

    cat = catalog_for(spark, sf_dir)
    return q(
        cat,
        sparql_to_datalog(
            """
            SELECT ?nname ?cname ?bal
            WHERE {
              ?c <http://tpch/c_nationkey> ?nk .
              ?c <http://tpch/c_acctbal> ?bal .
              ?c <http://tpch/c_name> ?cname .
              ?n <http://tpch/n_nationkey> ?nk .
              ?n <http://tpch/n_name> ?nname .
              { SELECT ?nk (MAX(?b) AS ?bal)
                WHERE { ?x <http://tpch/c_nationkey> ?nk .
                        ?x <http://tpch/c_acctbal> ?b }
                GROUP BY ?nk }
            }
            """
        ),
    )


# ---------------------------------------------------------------------------
# SPARQL CONSTRUCT oracle gate (r15, VERDICT r14 item 3): CONSTRUCT
# (sparql.py sparql_construct) was pytest-only — template instantiation
# per solution, union + distinct, all cells stringified, and (r15) the
# SPARQL 1.1 §16.2 unbound-template-row omission. This gate pins the
# whole path under the DuckDB oracle: the oracle rebuilds the identical
# (s, p, o) union in pure SQL — entity subjects stringify as the
# catalog's _id (concat of the pkey, catalog.py PKEYS), template
# predicates as the ':'-prefixed attr local names, objects via the same
# string cast. The §16.2
# NULL-omission branch is pinned by pytest (vcard OPTIONAL test) —
# TPC-H columns are NULL-free, so this gate pins instantiation/union/
# distinct/stringification.
# ---------------------------------------------------------------------------


@register(
    "sparql_construct",
    """
    WITH bind AS (
      SELECT CAST(c_custkey AS VARCHAR) AS c, n_name AS nname,
             c_mktsegment AS seg
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_acctbal > 9900
    )
    SELECT DISTINCT s, p, o FROM (
      SELECT c AS s, ':in_nation' AS p, nname AS o FROM bind
      UNION ALL
      SELECT c, ':segment', seg FROM bind
      UNION ALL
      SELECT c, ':flag', 'hi_bal' FROM bind
    )
    """,
)
def sparql_construct(spark, sf_dir):
    """SPARQL CONSTRUCT over the TPC-H graph: three template triples
    per solution (variable object, variable object, constant object)
    instantiated for every high-balance customer, unioned + distinct —
    the reference's labs translator (sparql.clj) is SELECT-only, so
    this is superset surface; template semantics follow SPARQL 1.1
    §16.2."""
    from crux_spark.sources.sparql import sparql_construct as _construct

    cat = catalog_for(spark, sf_dir)
    return _construct(cat, """
        PREFIX t: <http://tpch/>
        CONSTRUCT { ?c t:in_nation ?nname .
                    ?c t:segment ?seg .
                    ?c t:flag "hi_bal" }
        WHERE { ?c t:c_nationkey ?nk .
                ?c t:c_mktsegment ?seg .
                ?c t:c_acctbal ?bal .
                ?n t:n_nationkey ?nk .
                ?n t:n_name ?nname .
                FILTER (?bal > 9900) }
    """)


# ---------------------------------------------------------------------------
# SPARQL DESCRIBE oracle gate (r15, VERDICT r14 item 6): DESCRIBE landed
# this round (sparql.py sparql_describe — concise bounded description
# via the literal-entity / entity-var var-attr EAV scan, the same
# machinery as entity() doc fetch). This gate pins the variable-target
# path under the DuckDB oracle: describe every lineitem of the first 32
# orders. Lineitem _ids are the composite "orderkey_linenumber" strings
# (catalog.py PKEYS), which no other table's _id space can collide
# with, so the description is exactly the lineitem attribute pivot —
# the oracle rebuilds it as an 11-way UNION ALL with the same
# stringification (doubles/timestamps cast to VARCHAR).
# ---------------------------------------------------------------------------


@register(
    "sparql_describe",
    """
    WITH li AS (
      SELECT CAST(l_orderkey AS VARCHAR) || '_'
             || CAST(l_linenumber AS VARCHAR) AS s, *
      FROM lineitem WHERE l_orderkey <= 32
    )
    SELECT DISTINCT s, p, o FROM (
      SELECT s, ':l_orderkey' AS p, CAST(l_orderkey AS VARCHAR) AS o FROM li
      UNION ALL SELECT s, ':l_partkey', CAST(l_partkey AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_suppkey', CAST(l_suppkey AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_linenumber', CAST(l_linenumber AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_quantity', CAST(l_quantity AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_extendedprice', CAST(l_extendedprice AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_discount', CAST(l_discount AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_tax', CAST(l_tax AS VARCHAR) FROM li
      UNION ALL SELECT s, ':l_returnflag', l_returnflag FROM li
      UNION ALL SELECT s, ':l_linestatus', l_linestatus FROM li
      UNION ALL SELECT s, ':l_shipdate', CAST(l_shipdate AS VARCHAR) FROM li
    )
    """,
)
def sparql_describe(spark, sf_dir):
    """SPARQL DESCRIBE with a pattern-bound variable target: the
    concise bounded description of every lineitem entity of the first
    32 orders — (s, p, o) triples over the var-attr EAV scan joined to
    the WHERE pattern on the entity var (superset surface: the
    reference's SPARQL protocol is SELECT-shaped)."""
    from crux_spark.sources.sparql import sparql_describe as _describe

    cat = catalog_for(spark, sf_dir)
    return _describe(cat, """
        PREFIX t: <http://tpch/>
        DESCRIBE ?l WHERE { ?l t:l_orderkey ?k . FILTER (?k <= 32) }
    """)
