"""TPC-H-shaped Datalog queries (every substitution parameter an ``:in``
argument) and their DuckDB oracle SQL, plus the temporal queries over the
ts-devices store and their DuckDB oracles over the raw readings."""

from __future__ import annotations

# name -> (Datalog query, DuckDB SQL taking the same parameters as $1..)
REV = [["*", "?p", ["-", 1, "?d"]], "?rev"]

QUERIES: dict[str, tuple[dict, str]] = {
    "q1": (
        {
            "find": ["?flag", "?status", ["sum", "?qty"], ["sum", "?price"],
                     ["sum", "?disc_price"], ["sum", "?charge"], ["avg", "?qty"],
                     ["avg", "?disc"], ["count", "?qty"]],
            "in": ["?cut"],
            "where": [
                ["?l", ":l_returnflag", "?flag"], ["?l", ":l_linestatus", "?status"],
                ["?l", ":l_quantity", "?qty"], ["?l", ":l_extendedprice", "?price"],
                ["?l", ":l_discount", "?disc"], ["?l", ":l_tax", "?tax"],
                ["?l", ":l_shipdate", "?sd"], [["<=", "?sd", "?cut"]],
                [["*", "?price", ["-", 1, "?disc"]], "?disc_price"],
                [["*", ["*", "?price", ["-", 1, "?disc"]], ["+", 1, "?tax"]], "?charge"],
            ],
        },
        """SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                  sum(l_extendedprice * (1 - l_discount)),
                  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
                  avg(l_quantity), avg(l_discount), count(*)
           FROM lineitem WHERE l_shipdate <= CAST($1 AS TIMESTAMP)
           GROUP BY ALL""",
    ),
    "q3": (
        {
            "find": ["?ok", "?od", ["sum", "?rev"]],
            "in": ["?seg", "?day"],
            "where": [
                ["?c", ":c_mktsegment", "?seg"], ["?c", ":c_custkey", "?ck"],
                ["?o", ":o_custkey", "?ck"], ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"], [["<", "?od", "?day"]],
                ["?l", ":l_orderkey", "?ok"], ["?l", ":l_shipdate", "?sd"],
                [[">", "?sd", "?day"]],
                ["?l", ":l_extendedprice", "?p"], ["?l", ":l_discount", "?d"], REV,
            ],
        },
        """SELECT o_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount))
           FROM customer JOIN orders ON c_custkey = o_custkey
                         JOIN lineitem ON l_orderkey = o_orderkey
           WHERE c_mktsegment = $1 AND o_orderdate < CAST($2 AS TIMESTAMP)
             AND l_shipdate > CAST($2 AS TIMESTAMP)
           GROUP BY ALL""",
    ),
    "q5": (
        {
            "find": ["?nname", ["sum", "?rev"]],
            "in": ["?region", "?d0", "?d1"],
            "where": [
                ["?c", ":c_custkey", "?ck"], ["?c", ":c_nationkey", "?nk"],
                ["?o", ":o_custkey", "?ck"], ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"], [[">=", "?od", "?d0"]], [["<", "?od", "?d1"]],
                ["?l", ":l_orderkey", "?ok"], ["?l", ":l_suppkey", "?sk"],
                ["?l", ":l_extendedprice", "?p"], ["?l", ":l_discount", "?d"],
                ["?s", ":s_suppkey", "?sk"], ["?s", ":s_nationkey", "?nk"],
                ["?n", ":n_nationkey", "?nk"], ["?n", ":n_name", "?nname"],
                ["?n", ":n_regionkey", "?rk"], ["?r", ":r_regionkey", "?rk"],
                ["?r", ":r_name", "?region"], REV,
            ],
        },
        """SELECT n_name, sum(l_extendedprice * (1 - l_discount))
           FROM customer JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = $1 AND o_orderdate >= CAST($2 AS TIMESTAMP)
             AND o_orderdate < CAST($3 AS TIMESTAMP)
           GROUP BY ALL""",
    ),
    "q6": (
        {
            "find": [["sum", "?rev"]],
            "in": ["?d0", "?d1", "?dlo", "?dhi", "?qmax"],
            "where": [
                ["?l", ":l_shipdate", "?sd"], ["?l", ":l_discount", "?d"],
                ["?l", ":l_quantity", "?qty"], ["?l", ":l_extendedprice", "?p"],
                [[">=", "?sd", "?d0"]], [["<", "?sd", "?d1"]],
                [[">=", "?d", "?dlo"]], [["<=", "?d", "?dhi"]],
                [["<", "?qty", "?qmax"]], [["*", "?p", "?d"], "?rev"],
            ],
        },
        """SELECT sum(l_extendedprice * l_discount) FROM lineitem
           WHERE l_shipdate >= CAST($1 AS TIMESTAMP) AND l_shipdate < CAST($2 AS TIMESTAMP)
             AND l_discount >= $3 AND l_discount <= $4 AND l_quantity < $5""",
    ),
    "q10": (
        {
            "find": ["?ck", "?cname", ["sum", "?rev"], "?bal", "?nname"],
            "in": ["?d0", "?d1"],
            "where": [
                ["?c", ":c_custkey", "?ck"], ["?c", ":c_name", "?cname"],
                ["?c", ":c_acctbal", "?bal"], ["?c", ":c_nationkey", "?nk"],
                ["?n", ":n_nationkey", "?nk"], ["?n", ":n_name", "?nname"],
                ["?o", ":o_custkey", "?ck"], ["?o", ":o_orderkey", "?ok"],
                ["?o", ":o_orderdate", "?od"], [[">=", "?od", "?d0"]], [["<", "?od", "?d1"]],
                ["?l", ":l_orderkey", "?ok"], ["?l", ":l_returnflag", "R"],
                ["?l", ":l_extendedprice", "?p"], ["?l", ":l_discount", "?d"], REV,
            ],
        },
        """SELECT c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)), c_acctbal, n_name
           FROM customer JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
             JOIN nation ON c_nationkey = n_nationkey
           WHERE o_orderdate >= CAST($1 AS TIMESTAMP) AND o_orderdate < CAST($2 AS TIMESTAMP)
             AND l_returnflag = 'R'
           GROUP BY ALL""",
    ),
    "q12": (
        {
            "find": ["?mode", "?prio", ["count", "?l"]],
            "in": [["?mode", "..."], "?d0", "?d1"],
            "where": [
                ["?l", ":l_shipmode", "?mode"], ["?l", ":l_orderkey", "?ok"],
                ["?l", ":l_commitdate", "?cd"], ["?l", ":l_receiptdate", "?rd"],
                ["?l", ":l_shipdate", "?sd"],
                [["<", "?cd", "?rd"]], [["<", "?sd", "?cd"]],
                [[">=", "?rd", "?d0"]], [["<", "?rd", "?d1"]],
                ["?o", ":o_orderkey", "?ok"], ["?o", ":o_orderpriority", "?prio"],
            ],
        },
        """SELECT l_shipmode, o_orderpriority, count(*)
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE l_shipmode IN (SELECT unnest($1)) AND l_commitdate < l_receiptdate
             AND l_shipdate < l_commitdate AND l_receiptdate >= CAST($2 AS TIMESTAMP)
             AND l_receiptdate < CAST($3 AS TIMESTAMP)
           GROUP BY ALL""",
    ),
    "q14": (
        {
            "find": ["?ptype", ["sum", "?rev"]],
            "in": ["?d0", "?d1"],
            "where": [
                ["?l", ":l_partkey", "?pk"], ["?l", ":l_shipdate", "?sd"],
                [[">=", "?sd", "?d0"]], [["<", "?sd", "?d1"]],
                ["?l", ":l_extendedprice", "?p"], ["?l", ":l_discount", "?d"],
                ["?pt", ":p_partkey", "?pk"], ["?pt", ":p_type", "?ptype"], REV,
            ],
        },
        """SELECT p_type, sum(l_extendedprice * (1 - l_discount))
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= CAST($1 AS TIMESTAMP) AND l_shipdate < CAST($2 AS TIMESTAMP)
           GROUP BY ALL""",
    ),
    "q18": (
        {
            "find": ["?cname", "?ck", "?ok", "?od", "?tp", "?tq"],
            "in": ["?qmin"],
            "where": [
                [["q", {"find": ["?ok2", ["sum", "?q2"]],
                        "where": [["?l2", ":l_orderkey", "?ok2"], ["?l2", ":l_quantity", "?q2"]]}],
                 [["?ok", "?tq"]]],
                [[">", "?tq", "?qmin"]],
                ["?o", ":o_orderkey", "?ok"], ["?o", ":o_custkey", "?ck"],
                ["?o", ":o_orderdate", "?od"], ["?o", ":o_totalprice", "?tp"],
                ["?c", ":c_custkey", "?ck"], ["?c", ":c_name", "?cname"],
            ],
        },
        """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS tq FROM lineitem
                        GROUP BY l_orderkey HAVING sum(l_quantity) > $1)
           SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, tq
           FROM big JOIN orders ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey""",
    ),
}

# Temporal queries over the ts-devices store. The DuckDB side works on the
# raw readings (id, model, battery, cpu, ts): latest reading per device at
# an instant, and an hourly rollup over a window.
DEVICE_DATALOG = {
    "find": ["?model", ["count", "?e"], ["avg", "?battery"], ["max", "?cpu"]],
    "where": [["?e", ":model", "?model"], ["?e", ":battery", "?battery"], ["?e", ":cpu", "?cpu"]],
}
DEVICE_SQL = "SELECT model, count(*), avg(battery), max(cpu) FROM devices GROUP BY model"
LATEST_SQL = """
    WITH latest AS (
      SELECT id, model, battery, cpu,
             row_number() OVER (PARTITION BY id ORDER BY ts DESC) AS rn
      FROM readings WHERE ts <= CAST($1 AS TIMESTAMP))
    SELECT model, count(*), avg(battery), max(cpu) FROM latest WHERE rn = 1 GROUP BY model"""
ROLLUP_SQL = """
    SELECT date_trunc('hour', ts), count(*), avg(battery)
    FROM readings WHERE ts >= CAST($1 AS TIMESTAMP) AND ts < CAST($2 AS TIMESTAMP)
    GROUP BY ALL"""
