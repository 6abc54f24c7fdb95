"""Datalog aggregates → Spark aggregate expressions.

The reference registers aggregates via an open multimethod and applies them
with hash grouping on all non-aggregate find elements
(crux-core/src/crux/query.clj:284-408, grouping :1612-1643). Exactness
matters for oracle parity: median/count-distinct are exact, variance/stddev
are population variants (query.clj:324-343), avg coerces to double
(:279-282).

Find-element forms:
    "?x"                      plain grouping var
    ["sum", "?x"]             aggregate, default alias "sum_x"
    ["sum", "?x", "alias"]    explicit alias (oracle column-name matching)
    ["min", 3, "?x"]          top-N variant -> sorted array (query.clj:379-408)
    ["count-distinct", "?x"]  exact distinct count
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from crux_spark.datalog.builtins import is_var, var_col

_SIMPLE = {
    "count": F.count,
    "count-distinct": F.count_distinct,
    "sum": F.sum,
    "avg": F.avg,
    "median": F.median,
    "variance": F.var_pop,
    "stddev": F.stddev_pop,
    "min": F.min,
    "max": F.max,
    "distinct": F.collect_set,
    # approximate variants (not in the reference; declared explicitly so
    # exact parity stays the default — SURVEY §2.4 note)
    "count-distinct-approx": F.approx_count_distinct,
}

AGG_FNS = set(_SIMPLE) | {"rand", "sample"}

# open registry — the analogue of the reference's open `aggregate`
# multimethod (query.clj:275): register_aggregate("geo-mean",
# lambda c: F.exp(F.avg(F.log(c)))) makes ["geo-mean", "?x"] usable in
# :find. The fn maps a Column to an aggregate Column expression, so custom
# aggregates stay JVM-side (partial aggregation + codegen preserved).
_CUSTOM: dict[str, Any] = {}

# rand/sample seed: None -> fresh seed per compiled plan (true sampling,
# like the reference's rand-nth/shuffle, query.clj:351-366 — different
# answers across runs); an int -> reproducible draws (tests, debugging).
# The PRNG is xxhash64(value_or_index, seed) so the draw is evaluated
# JVM-side inside the aggregate — no Python, no nondeterministic-
# expression restrictions inside higher-order functions.
SAMPLE_SEED: int | None = None


def set_sample_seed(seed: int | None) -> None:
    global SAMPLE_SEED
    SAMPLE_SEED = seed


def _seed() -> int:
    if SAMPLE_SEED is not None:
        return SAMPLE_SEED
    import random

    return random.randrange(1 << 31)


def _sample_distinct(c: str, n: int) -> Column:
    """`sample N`: N distinct values, uniformly without replacement —
    (take n (shuffle (vec (distinct vals)))), query.clj:362-366. Seeded
    hash order over the distinct set = a shuffle evaluated in the JVM."""
    s = _seed()
    keyed = F.transform(
        F.collect_set(c),
        lambda x: F.struct(F.xxhash64(x, F.lit(s)).alias("k"), x.alias("v")),
    )
    return F.transform(F.slice(F.sort_array(keyed), 1, n), lambda kv: kv["v"])


def _rand_n(c: str, n: int) -> Column:
    """`rand N`: N draws WITH replacement — (repeatedly n #(rand-nth
    vals)), query.clj:351-361. Each of the N slots hashes its index to a
    position in the collected values array."""
    s = _seed()
    arr = F.collect_list(c)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.element_at(
            arr, (F.pmod(F.xxhash64(i, F.lit(s)), F.size(arr)) + 1).cast("int")
        ),
    )


def register_aggregate(name: str, fn) -> None:
    _CUSTOM[name] = fn


def is_agg_form(el: Any) -> bool:
    return (
        isinstance(el, (list, tuple))
        and len(el) >= 2
        and (el[0] in AGG_FNS or el[0] in _CUSTOM)
    )


def agg_expr(el: list) -> tuple[Column, str, str]:
    """Return (aggregate Column, alias, source var) for a find element."""
    fn = el[0]
    if isinstance(el[1], int) and fn in ("min", "max", "sample", "rand"):
        n, v = el[1], el[2]
        alias = el[3] if len(el) > 3 else f"{fn}{n}_{var_col(v)}"
        c = var_col(v)
        if fn == "min":
            return F.slice(F.sort_array(F.collect_set(c)), 1, n), alias, v
        if fn == "max":
            return F.slice(F.sort_array(F.collect_set(c), asc=False), 1, n), alias, v
        if fn == "sample":
            return _sample_distinct(c, n), alias, v
        if fn == "rand":
            return _rand_n(c, n), alias, v
    v = el[1]
    if not is_var(v):
        raise ValueError(f"aggregate over non-var: {el!r}")
    alias = el[2] if len(el) > 2 else f"{fn.replace('-', '_')}_{var_col(v)}"
    if fn in _CUSTOM:
        return _CUSTOM[fn](F.col(var_col(v))), alias, v
    agg = _SIMPLE[fn](var_col(v))
    if fn == "avg":
        agg = _SIMPLE[fn](F.col(var_col(v)).cast("double"))
    if fn == "distinct":
        agg = F.sort_array(agg)  # deterministic order for set-valued results
    return agg, alias, v
