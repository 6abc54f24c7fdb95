"""Predicate/function registry for Datalog expression clauses.

The reference allowlists ~230 clojure.core fns as query predicates
(crux-core/resources/query-allowlist.edn, enforced at
crux-core/src/crux/query.clj:1272-1283). Here the corpus-used subset maps to
JVM-side Catalyst expressions (pyspark.sql.functions) so predicates stay
inside whole-stage codegen; there is deliberately no row-at-a-time Python
UDF path in the hot loop.

Expression forms (Python analogue of the EDN clause):
    ["+", "?a", 1]                -> F.col(a) + 1
    ["<", "?qty", 24]             -> F.col(qty) < 24
    ["re-find", "^forest.*", "?n"]-> F.col(n).rlike("^forest.*")
    ["contains?", {"A","B"}, "?x"]-> F.col(x).isin("A","B")
    ["subs", "?s", 0, 2]          -> substring(s, 1, 2)   (clojure subs is
                                     0-based / end-exclusive; codegen'd)
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_var(x: Any) -> bool:
    return isinstance(x, str) and x.startswith("?")


def is_kw(x: Any) -> bool:
    return isinstance(x, str) and x.startswith(":")


def is_blank(x: Any) -> bool:
    return x == "_"


def var_col(v: str) -> str:
    """Column name for a logic var: strip the '?' sigil."""
    return v[1:]


def _mangle(fn: str) -> str:
    """clojure fn name -> python method suffix."""
    return (
        fn.replace("-", "_")
        .replace("?", "p")
        .replace("/", "_")
        .replace("!", "_bang")
        .replace("*", "_star")
    )


def _lit(x: Any) -> Column:
    if isinstance(x, str) and x.startswith(":"):
        return F.lit(x)  # keyword literal stored as its string form
    if isinstance(x, (_dt.datetime, _dt.date)):
        return F.lit(x)
    return F.lit(x)


def _div(a: Column, b: Column) -> Column:
    return a / b


# user-extensible predicate registry — the reference's :fn-allow-list
# (query_fn_allowlist_test.clj): registering a NAME makes it callable in
# predicate position. columnar=True fns receive/return Columns (JVM-side,
# preferred); otherwise the fn is a plain Python callable wrapped as a
# row UDF (the documented escape hatch).
_USER_FNS: dict[str, tuple] = {}


def register_query_fn(
    name: str, fn, returns: str = "boolean", columnar: bool = False
) -> None:
    _USER_FNS[name] = (fn, returns, columnar)


def unregister_query_fn(name: str) -> None:
    _USER_FNS.pop(name, None)


def _callable_predicate_udf(f):
    """Arrow-batched compile of an opaque user callable in predicate
    position (the DataScript 'passing predicate as source' shape,
    query_test.clj:2543). Each batch first attempts ONE vectorized call —
    valid iff the callable is numpy/pandas-broadcastable, detected by it
    returning an array-like of the batch length (scalar returns, length
    mismatches, and any exception — ambiguous-truth-value, unhashable
    Series, missing attribute — mean the callable isn't elementwise over
    Series and the batch re-runs row-by-row in Python). Strictly
    dominates the old F.udf escape hatch: same semantics, Arrow transfer
    instead of per-row pickling, and zero per-row Python for
    broadcastable callables."""
    import warnings

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _pred(*cols):
        n = len(cols[0]) if cols else 0
        try:
            out = f(*cols)
            if isinstance(out, (pd.Series, np.ndarray, list)) and len(out) == n:
                return pd.Series(
                    [None if v is None else bool(v) for v in out]
                )
        except Exception:
            pass
        return pd.Series(
            [bool(f(*vals)) for vals in zip(*cols)] if cols else []
        )

    with warnings.catch_warnings():
        # explicit SCALAR eval type: varargs carry no inferable type
        # hints; silence only Spark's prefer-type-hints deprecation nudge
        warnings.simplefilter("ignore", UserWarning)
        return pandas_udf(_pred, "boolean", PandasUDFType.SCALAR)


_BINARY_OPS: dict[str, Callable[[Column, Column], Column]] = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": _div,
    "quot": lambda a, b: (a / b).cast("long"),
    "rem": lambda a, b: a % b,
    "mod": lambda a, b: ((a % b) + b) % b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "not=": lambda a, b: a != b,
}


class ExprBuilder:
    """Builds Catalyst Column expressions from clause forms.

    ``colmap`` maps logic var -> Column; ``env`` maps scalar :in vars to
    Python literal values (substituted at compile time — the analogue of the
    reference binding :in args into relation indexes, query.clj:1528-1533).
    """

    def __init__(
        self,
        columns: set[str],
        env: dict[str, Any],
        dtypes: dict[str, str] | None = None,
        typed: dict[str, dict[str, str]] | None = None,
    ):
        self.columns = columns
        self.env = env
        # col name -> Spark simpleString type, for the few type-polymorphic
        # builtins (clojure `count` = string length OR collection size)
        self.dtypes = dtypes or {}
        # EAV-fallback vars with typed side-columns: var -> {kind: colname}.
        # Numeric/temporal comparisons bind against these instead of the
        # stringified value column (codec.clj:81-99's typed ordering).
        self.typed = typed or {}

    def vars_in(self, form: Any) -> set[str]:
        """All logic vars referenced by an expression form (excluding
        env-substituted scalars)."""
        out: set[str] = set()
        if is_var(form):
            if form not in self.env:
                out.add(form)
        elif isinstance(form, (list, tuple)):
            for a in form[1:]:
                out |= self.vars_in(a)
        return out

    def build(self, form: Any) -> Column:
        if is_var(form):
            if form in self.env:
                return _lit(self.env[form])
            return F.col(var_col(form))
        if isinstance(form, (list, tuple)):
            return self._call(form[0], list(form[1:]))
        if isinstance(form, (set, frozenset)):
            raise ValueError("set literal only valid as contains?/isin argument")
        return _lit(form)

    # -- function dispatch ------------------------------------------------

    _CHAINED_CMPS = {"<", "<=", ">", ">=", "=", "==", "!=", "not="}

    def _call(self, fn: str, args: list[Any]) -> Column:
        # a callable :in arg used in function position is a user predicate
        # (DataScript 'passing predicate as source', query_test.clj:2543);
        # row-at-a-time Python UDF — the deliberate escape hatch, not the
        # hot path
        if callable(fn) or (is_var(fn) and callable(self.env.get(fn))):
            # a bare callable appears when rule expansion substitutes a
            # callable :in arg into a rule-body predicate head
            # (query_test.clj:2393 calling-rule-twice-44). Compiled as
            # an Arrow-batched pandas_udf that tries the callable
            # VECTORIZED (numpy/pandas-broadcastable fns — the common
            # `lambda a: a > 25` shape — run one call per batch) and
            # only degrades to per-row application WITHIN the batch when
            # the callable rejects Series inputs; either way there is no
            # per-row pickling (r9 verdict #6 retired the row-UDF
            # escape hatch + its compile-time warning).
            return _callable_predicate_udf(
                fn if callable(fn) else self.env[fn]
            )(*[self.build(a) for a in args])
        if fn in _BINARY_OPS:
            if fn in ("=", "==", "!=", "not="):
                # clojure equality across types is False (not=: True) —
                # never an ANSI cast error ((not= age name) with a long
                # and a string must not try to cast "Bob" to bigint)
                fams = {
                    f
                    for f in (self._type_family(a) for a in args)
                    if f is not None
                }
                if len(fams) > 1:
                    return F.lit(fn in ("!=", "not="))
            if fn in ("<", "<=", ">", ">=") and len(args) == 2:
                # range constraint over an EAV-bound var vs a literal:
                # confined to the LITERAL'S type class, like the
                # reference's prefix-equal wrapper on the 1-byte type tag
                # (query.clj:870-884 new-range-constraint-wrapper-fn) —
                # [(< ?v 5)] with a long literal matches longs only,
                # never doubles/decimals/dates
                confined = self._confined_range(fn, args)
                if confined is not None:
                    return confined
            ctx = (
                "num"
                if fn in ("+", "-", "*", "/", "quot", "rem", "mod")
                else self._cmp_context(args)
            )
            cols = [self._build_ctx(a, ctx) for a in args]
            if fn in self._CHAINED_CMPS and len(cols) > 2:
                # variadic comparison chains pairwise: (< a 18 b) means
                # a < 18 AND 18 < b (clojure semantics), NOT ((a<18)<b)
                out = _BINARY_OPS[fn](cols[0], cols[1])
                for x, y in zip(cols[1:], cols[2:]):
                    out = out & _BINARY_OPS[fn](x, y)
                return out
            out = cols[0]
            for c in cols[1:]:
                out = _BINARY_OPS[fn](out, c)
            return out
        if fn in _USER_FNS:
            ufn, returns, columnar = _USER_FNS[fn]
            cols = [self.build(a) for a in args]
            if columnar:
                return ufn(*cols)
            return F.udf(ufn, returns)(*cols)
        meth = getattr(self, "_fn_" + _mangle(fn), None)
        if meth is None:
            raise NotImplementedError(
                f"Query used a function that was not in the allowlist: "
                f"{fn!r} (register it with "
                f"crux_spark.datalog.builtins.register_query_fn — the "
                f"reference's :fn-allow-list, query_fn_allowlist_test.clj)"
            )
        return meth(args)

    _NUMERIC_DTYPES = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    )

    def _cmp_context(self, args: list[Any]) -> str | None:
        """Type context of a comparison: 'ts' if any operand is temporal,
        'num' if any is numeric, else None (string compare)."""
        ctx = None
        for x in args:
            if is_var(x) and x not in self.env:
                dt = self.dtypes.get(var_col(x), "")
                if dt in ("timestamp", "timestamp_ntz", "date"):
                    return "ts"
                if dt in self._NUMERIC_DTYPES or dt.startswith("decimal"):
                    ctx = "num"
            elif isinstance(x, (list, tuple)):
                sub = self._cmp_context(list(x[1:]))
                if sub == "ts":
                    return "ts"
                ctx = ctx or sub
            else:
                lit = self.env.get(x, x) if isinstance(x, str) else x
                if isinstance(lit, (_dt.datetime, _dt.date)):
                    return "ts"
                if isinstance(lit, (int, float)) and not isinstance(lit, bool):
                    ctx = "num"
        return ctx

    # literal python type -> field of the __typed_ord struct (one field
    # per codec.clj value-type class; see compile.scan_var_attr)
    # wrapper classes (crux_spark.valuetypes) list before their base
    # classes — isinstance would otherwise swallow them into the base tag
    from crux_spark import valuetypes as _vtypes

    _ORD_FIELD_ORDER = (
        (bool, "b"),            # before int: bool is an int subclass
        (_vtypes.Instant, "inst"),
        (_vtypes.LocalDateTime, "ldt"),
        (_dt.datetime, "t"),    # before date: datetime is a date subclass
        (_dt.date, "dt"),
        (_dt.time, "tm"),
        (_dt.timedelta, "du"),
        (_decimal.Decimal, "dec"),
        (_vtypes.BigInt, "bi"),
        (_vtypes.BigInteger, "bi"),
        (int, "l"),
        (float, "d"),
        (_vtypes.Char, "c"),
        (str, "s"),
    )

    def _confined_range(self, fn: str, args: list[Any]):
        """Range constraint [(< ?v lit)] over an EAV-bound var: compare
        the LITERAL'S type-class field of the var's __typed_ord struct —
        that field is non-null only for values of the same type class,
        so rows of every other class drop out of the filter, exactly the
        reference's prefix-equal-on-type-tag wrapper
        (query.clj:870-884). Returns None when the clause is not the
        var-vs-literal shape (var-var ranges stay numeric — they are
        in-memory predicates in the reference, not index ranges)."""
        def eav_ord(x):
            if is_var(x) and x not in self.env and x in self.typed:
                oc = self.typed[x].get("ord")
                if oc is not None and oc in self.columns:
                    return oc
            return None

        def literal(x):
            lit = self.env.get(x, x) if isinstance(x, str) else x
            if is_var(x) and x not in self.env:
                return None
            if isinstance(lit, (list, tuple, set, dict)) or callable(lit):
                return None
            return lit

        ords = [eav_ord(a) for a in args]
        lits = [literal(a) for a in args]
        for vi, li in ((0, 1), (1, 0)):
            if ords[vi] is None or lits[li] is None:
                continue
            lit = lits[li]
            field = next(
                (f for t, f in self._ORD_FIELD_ORDER if isinstance(lit, t)),
                None,
            )
            if field is None:
                return None
            from crux_spark import valuetypes as _vtypes

            if isinstance(lit, bool):
                lit = int(lit)  # the ord struct stores booleans as int
            elif field == "l" and (lit > 2**63 - 1 or lit < -(2**63)):
                # integers past long range are BigInts (codec tag 12)
                field, lit = "bi", _decimal.Decimal(lit)
            elif field == "bi":
                lit = _decimal.Decimal(int(lit))
            elif field == "tm":
                # the ord struct stores LocalTime as nano-of-day
                lit = _vtypes.time_to_nanos(lit)
            elif field in ("inst", "ldt"):
                # plain datetime for Spark lit (drop the wrapper class)
                lit = _dt.datetime(*lit.timetuple()[:6], lit.microsecond)
            sides = [None, None]
            sides[vi] = F.col(f"{ords[vi]}.{field}")
            sides[li] = F.lit(lit)
            return _BINARY_OPS[fn](sides[0], sides[1])
        return None

    def _build_ctx(self, form: Any, ctx: str | None) -> Column:
        """Build an operand under a comparison type context: an EAV-bound
        var with typed side-columns binds the matching typed column instead
        of its stringified form; raise if the typed column was projected
        away (never silently string-compare a typed predicate)."""
        if ctx in ("num", "ts") and is_var(form) and form in self.typed:
            col = self.typed[form].get(ctx)
            if col is None or col not in self.columns:
                raise ValueError(
                    f"typed ({ctx}) predicate over EAV-bound var {form}, but "
                    f"its typed side-column is unavailable — bind the value "
                    f"through a fixed attribute or keep {form} out of "
                    f"projections before the predicate"
                )
            return F.col(col)
        return self.build(form)

    # arithmetic / numeric
    def _fn_inc(self, a):
        return self.build(a[0]) + 1

    def _fn_dec(self, a):
        return self.build(a[0]) - 1

    def _fn_abs(self, a):
        return F.abs(self.build(a[0]))

    def _fn_min(self, a):
        return F.least(*[self.build(x) for x in a])

    def _fn_max(self, a):
        return F.greatest(*[self.build(x) for x in a])

    def _fn_round(self, a):
        # (round x n) — engine extension for oracle-stable float compares
        return F.round(self.build(a[0]), a[1] if len(a) > 1 else 0)

    def _fn_long(self, a):
        return self.build(a[0]).cast("long")

    def _fn_double(self, a):
        return self.build(a[0]).cast("double")

    def _fn_int(self, a):
        return self.build(a[0]).cast("int")

    def _fn_bigdec(self, a):
        return self.build(a[0]).cast("decimal(38,12)")

    def _fn_decimal(self, a):
        # deterministic-sum cast: float -> DECIMAL(28,8) so aggregation is
        # order-independent and hash-matches the oracle exactly
        return self.build(a[0]).cast("decimal(28,8)")

    # boolean
    def _fn_and(self, a):
        out = self.build(a[0])
        for x in a[1:]:
            out = out & self.build(x)
        return out

    def _fn_or(self, a):
        out = self.build(a[0])
        for x in a[1:]:
            out = out | self.build(x)
        return out

    def _fn_not(self, a):
        return ~self.build(a[0])

    def _fn_nilp(self, a):
        return self.build(a[0]).isNull()

    def _fn_somep(self, a):
        return self.build(a[0]).isNotNull()

    # strings (clojure.core + clojure.string subset used by the corpus —
    # tpch.clj q20 re-find, q22 subs/contains?)
    def _fn_str(self, a):
        return F.concat(*[self.build(x).cast("string") for x in a])

    def _fn_subs(self, a):
        # start/end may be VARIABLES ((subs ?s 0 ?n) — clojure.core subs);
        # substr takes Column positions, so build() both
        s = self.build(a[0])
        start = self.build(a[1])
        if len(a) > 2:
            return s.substr(start + 1, self.build(a[2]) - start)
        return s.substr(start + 1, F.length(s))

    def _fn_count(self, a):
        # clojure count: string length or collection size (type-resolved
        # at compile time from the bound column's dtype)
        c = self.build(a[0])
        if is_var(a[0]) and self.dtypes.get(var_col(a[0]), "").startswith(
            ("array", "map")
        ):
            return F.size(c)
        if isinstance(a[0], (list, tuple)) and not is_var(a[0]):
            # nested call — assume collection-returning (vec/sort/...)
            return F.size(c)
        return F.length(c)

    def _fn_size(self, a):
        return F.size(self.build(a[0]))

    def _fn_lower_case(self, a):
        return F.lower(self.build(a[0]))

    def _fn_upper_case(self, a):
        return F.upper(self.build(a[0]))

    def _fn_trim(self, a):
        return F.trim(self.build(a[0]))

    # the needle goes through build() too: a raw a[1] would treat a
    # VARIABLE needle ("?g") as the literal string "?g" and silently
    # match nothing (r13 find via SPARQL CONTAINS(?fn, ?g))
    def _fn_starts_withp(self, a):
        return self.build(a[0]).startswith(self.build(a[1]))

    def _fn_ends_withp(self, a):
        return self.build(a[0]).endswith(self.build(a[1]))

    def _fn_includesp(self, a):
        return self.build(a[0]).contains(self.build(a[1]))

    def _unwrap_pattern(self, pattern):
        # accept (re-pattern "...") wrapping a literal pattern, and an
        # :in-bound var holding the pattern string (env-resolved — a raw
        # "?p" would be a dangling-metacharacter regex error)
        if isinstance(pattern, (list, tuple)) and pattern and pattern[0] == "re-pattern":
            pattern = pattern[1]
        # env-substitute VARIABLES only: a literal pattern that happens
        # to equal an env key (e.g. the regex "?p") must stay literal
        if is_var(pattern) and pattern in self.env:
            pattern = self.env[pattern]
        return pattern

    def _fn_re_find(self, a):
        # (re-find #"pat" s) — truthy iff pattern matches anywhere
        pattern, s = self._unwrap_pattern(a[0]), a[1]
        return self.build(s).rlike(pattern)

    def _fn_re_matches(self, a):
        pattern, s = self._unwrap_pattern(a[0]), a[1]
        p = pattern if pattern.startswith("^") else "^" + pattern
        p = p if p.endswith("$") else p + "$"
        return self.build(s).rlike(p)

    def _is_expr_form(self, x) -> bool:
        """A list/tuple that is an expression form (fn-name head), not a
        literal collection."""
        if not (isinstance(x, (list, tuple)) and x and isinstance(x[0], str)):
            return False
        head = x[0]
        return (
            head in _BINARY_OPS
            or hasattr(self, "_fn_" + _mangle(head))
        )

    def _fn_containsp(self, a):
        # (contains? #{...} x) — set-membership filter; map columns test
        # key presence (clojure contains? on maps)
        coll, x = a[0], a[1]
        if is_var(coll) and coll in self.env:
            # :in-bound collection value (bitemporal_tale_test.clj's
            # parametrized query: {ids #{...}} + (contains? ids ?e))
            coll = self.env[coll]
        if isinstance(coll, (set, frozenset)) or (
            isinstance(coll, (list, tuple)) and not self._is_expr_form(coll)
        ):
            vals = [self.env.get(v, v) if isinstance(v, str) else v for v in coll]
            return self.build(x).isin(*vals)
        is_map = (
            is_var(coll)
            and self.dtypes.get(var_col(coll), "").startswith("map")
        ) or (
            isinstance(coll, (list, tuple))
            and coll
            and coll[0]
            in ("zipmap", "merge", "assoc", "dissoc", "select-keys", "frequencies")
        )
        if is_map:
            return F.map_contains_key(self.build(coll), self.build(x))
        return F.array_contains(self.build(coll), self.build(x))

    def _fn_get(self, a):
        key = a[1]
        if not is_var(key) and not isinstance(key, (list, tuple)):
            # plain literal key: pass raw (0-based array index / map key)
            return self.build(a[0]).getItem(key)
        return self.build(a[0]).getItem(self.build(key))

    # temporal helpers (dates are TimestampType, ms precision — codec.clj:252-255)
    def _fn_year(self, a):
        return F.year(self.build(a[0]))

    def _fn_month(self, a):
        return F.month(self.build(a[0]))

    def _fn_day(self, a):
        return F.dayofmonth(self.build(a[0]))

    def _fn_date(self, a):
        return F.lit(a[0]).cast("timestamp")

    def _fn_current_date(self, a):
        return F.current_date()

    def _fn_current_timestamp(self, a):
        return F.current_timestamp()

    def _fn_last_day(self, a):
        return F.last_day(self.build(a[0]))

    def _fn_date_trunc(self, a):
        return F.date_trunc(a[0], self.build(a[1]))

    # SQL scalar surface parity (crux-sql/src/crux/calcite.clj:147-203)
    def _fn_ceil(self, a):
        return F.ceil(self.build(a[0]))

    def _fn_floor(self, a):
        return F.floor(self.build(a[0]))

    def _fn_truncate(self, a):
        c = self.build(a[0])
        if len(a) > 1:
            p = 10 ** a[1]
            return (c * p).cast("long") / F.lit(p)
        return c.cast("long")

    def _fn_initcap(self, a):
        return F.initcap(self.build(a[0]))

    def _fn_concat(self, a):
        return F.concat(*[self.build(x) for x in a])

    def _fn_char_length(self, a):
        return F.length(self.build(a[0]))

    def _fn_replace(self, a):
        return F.replace(self.build(a[0]), F.lit(a[1]), F.lit(a[2]))

    def _fn_ltrim(self, a):
        return F.ltrim(self.build(a[0]))

    def _fn_rtrim(self, a):
        return F.rtrim(self.build(a[0]))

    def _fn_substring(self, a):
        # SQL 1-based SUBSTRING(s, start, len?)
        s = self.build(a[0])
        if len(a) > 2:
            return F.substring(s, a[1], a[2])
        return s.substr(F.lit(a[1]), F.length(s))

    # additional clojure.core corpus fns (query-allowlist.edn subset)
    def _fn_name(self, a):
        # (name :ns/kw) -> "kw"; our keywords are ":..." strings
        c = self.build(a[0])
        return F.element_at(F.split(F.regexp_replace(c, "^:", ""), "/"), -1)

    def _fn_namespace(self, a):
        c = self.build(a[0])
        parts = F.split(F.regexp_replace(c, "^:", ""), "/")
        return F.when(F.size(parts) > 1, F.element_at(parts, 1))

    def _fn_keyword(self, a):
        return F.concat(F.lit(":"), self.build(a[0]).cast("string"))

    def _fn_first(self, a):
        return F.element_at(self.build(a[0]), 1)

    def _fn_last(self, a):
        return F.element_at(self.build(a[0]), -1)

    def _fn_nth(self, a):
        return F.element_at(self.build(a[0]), self.build(a[1]) + 1)

    def _fn_reverse(self, a):
        return F.reverse(self.build(a[0]))

    def _fn_sort(self, a):
        return F.sort_array(self.build(a[0]))

    def _fn_vec(self, a):
        return self.build(a[0])

    def _fn_set(self, a):
        return F.array_distinct(self.build(a[0]))

    def _fn_range(self, a):
        if len(a) == 1:
            return F.sequence(F.lit(0), self.build(a[0]) - 1)
        return F.sequence(self.build(a[0]), self.build(a[1]) - 1)

    def _fn_take(self, a):
        return F.slice(self.build(a[1]), 1, a[0])

    def _fn_conj(self, a):
        return F.array_append(self.build(a[0]), self.build(a[1]))

    def _fn_numberp(self, a):
        """Type test, not parseability (clojure (number? "123") is false):
        resolved from the Catalyst dtype at compile time like int?/double?.
        The old cast-based check was also ANSI-fatal on non-numeric strings
        (query_test.clj:492 [(number? name)] inside a not)."""
        dt = self._dtype_of(a[0])
        if not dt:
            raise ValueError(
                f"number? over untyped operand {a[0]!r} — bind it through "
                f"a fixed attribute so the dtype is known"
            )
        hit = dt in (
            "tinyint", "smallint", "int", "bigint", "float", "double"
        ) or dt.startswith("decimal")
        return (F.lit(True) & self.build(a[0]).isNotNull()) if hit else F.lit(False)

    def _fn_stringp(self, a):
        return self._static_type_pred(a, ("string",))

    def _fn_boolean(self, a):
        return self.build(a[0]).cast("boolean")

    def _fn_identity(self, a):
        return self.build(a[0])

    def _fn_vector(self, a):
        # (vector 1 2 3) — array literal constructor
        return F.array(*[self.build(x) for x in a])

    def _fn_tuple(self, a):
        # (tuple 1 "x") — heterogeneous tuple as struct (Spark arrays are
        # homogeneous under ANSI; a struct is the positional-tuple analogue)
        return F.struct(
            *[self.build(x).alias(f"_{i}") for i, x in enumerate(a)]
        )

    def _fn_evenp(self, a):
        return self.build(a[0]) % 2 == 0

    def _fn_oddp(self, a):
        return self.build(a[0]) % 2 == 1

    # -- numeric predicates / bit ops (allowlist tier 2) -------------------

    def _fn_zerop(self, a):
        return self.build(a[0]) == 0

    def _fn_posp(self, a):
        return self.build(a[0]) > 0

    def _fn_negp(self, a):
        return self.build(a[0]) < 0

    def _is_int_like(self, x) -> Column:
        """Compile-time integer check: dtype for vars, Python type for
        literals (clojure int?/integer? are type tests, not value tests)."""
        if is_var(x) and x not in self.env:
            dt = self.dtypes.get(var_col(x), "")
            return F.lit(dt in ("tinyint", "smallint", "int", "bigint"))
        lit = self.env.get(x, x) if isinstance(x, str) else x
        return F.lit(isinstance(lit, int) and not isinstance(lit, bool))

    def _fn_intp(self, a):
        return self._is_int_like(a[0])

    def _fn_integerp(self, a):
        return self._is_int_like(a[0])

    def _fn_pos_intp(self, a):
        return self._is_int_like(a[0]) & (self.build(a[0]) > 0)

    def _fn_neg_intp(self, a):
        return self._is_int_like(a[0]) & (self.build(a[0]) < 0)

    def _fn_nat_intp(self, a):
        return self._is_int_like(a[0]) & (self.build(a[0]) >= 0)

    def _fn_doublep(self, a):
        if is_var(a[0]) and a[0] not in self.env:
            return F.lit(self.dtypes.get(var_col(a[0]), "") in ("double", "float"))
        lit = self.env.get(a[0], a[0]) if isinstance(a[0], str) else a[0]
        return F.lit(isinstance(lit, float))

    def _fn_floatp(self, a):
        return self._fn_doublep(a)

    def _fn_booleanp(self, a):
        if is_var(a[0]) and a[0] not in self.env:
            return F.lit(self.dtypes.get(var_col(a[0]), "") == "boolean")
        lit = self.env.get(a[0], a[0]) if isinstance(a[0], str) else a[0]
        return F.lit(isinstance(lit, bool))

    def _is_bool_operand(self, x) -> bool:
        if is_var(x) and x not in self.env:
            return self.dtypes.get(var_col(x), "") == "boolean"
        lit = self.env.get(x, x) if isinstance(x, str) else x
        return isinstance(lit, bool)

    def _fn_truep(self, a):
        if not self._is_bool_operand(a[0]):
            return F.lit(False)
        return self.build(a[0]) == F.lit(True)

    def _fn_falsep(self, a):
        if not self._is_bool_operand(a[0]):
            return F.lit(False)
        return self.build(a[0]) == F.lit(False)

    def _fn_anyp(self, a):
        return F.lit(True)

    def _fn_instp(self, a):
        if is_var(a[0]) and a[0] not in self.env:
            return F.lit(
                self.dtypes.get(var_col(a[0]), "")
                in ("timestamp", "timestamp_ntz", "date")
            )
        lit = self.env.get(a[0], a[0]) if isinstance(a[0], str) else a[0]
        return F.lit(isinstance(lit, (_dt.datetime, _dt.date)))

    def _fn_compare(self, a):
        x, y = self.build(a[0]), self.build(a[1])
        return F.when(x < y, -1).when(x > y, 1).otherwise(0)

    def _fn_bit_and(self, a):
        return self.build(a[0]).bitwiseAND(self.build(a[1]))

    def _fn_bit_or(self, a):
        return self.build(a[0]).bitwiseOR(self.build(a[1]))

    def _fn_bit_xor(self, a):
        return self.build(a[0]).bitwiseXOR(self.build(a[1]))

    def _fn_bit_not(self, a):
        return F.bitwise_not(self.build(a[0]))

    def _fn_bit_and_not(self, a):
        return self.build(a[0]).bitwiseAND(F.bitwise_not(self.build(a[1])))

    def _fn_bit_shift_left(self, a):
        return F.shiftleft(self.build(a[0]), a[1])

    def _fn_bit_shift_right(self, a):
        return F.shiftright(self.build(a[0]), a[1])

    def _fn_unsigned_bit_shift_right(self, a):
        return F.shiftrightunsigned(self.build(a[0]), a[1])

    def _fn_bit_test(self, a):
        return F.shiftright(self.build(a[0]), a[1]).bitwiseAND(F.lit(1)) == 1

    def _fn_bit_set(self, a):
        return self.build(a[0]).bitwiseOR(F.lit(1 << a[1]))

    def _fn_bit_clear(self, a):
        return self.build(a[0]).bitwiseAND(F.lit(~(1 << a[1])))

    def _fn_bit_flip(self, a):
        return self.build(a[0]).bitwiseXOR(F.lit(1 << a[1]))

    # -- strings tier 2 ----------------------------------------------------

    def _fn_format(self, a):
        # clojure format's %s/%d/%f subset via format_string (JVM-side)
        return F.format_string(a[0], *[self.build(x) for x in a[1:]])

    def _fn_re_seq(self, a):
        # (re-seq #"pat" s) -> all matches as array
        pattern, s = self._unwrap_pattern(a[0]), a[1]
        return F.regexp_extract_all(self.build(s), F.lit(pattern), 0)

    def _fn_re_pattern(self, a):
        return F.lit(a[0])

    def _fn_symbol(self, a):
        return self.build(a[0]).cast("string")

    def _fn_capitalize(self, a):
        s = self.build(a[0])
        return F.concat(F.upper(s.substr(F.lit(1), F.lit(1))), F.lower(s.substr(F.lit(2), F.length(s))))

    def _fn_join(self, a):
        # (join sep coll) / (join coll)
        if len(a) == 2:
            return F.array_join(self.build(a[1]).cast("array<string>"), a[0])
        return F.array_join(self.build(a[0]).cast("array<string>"), "")

    def _fn_split(self, a):
        # (split s re) — clojure.string/split drops trailing empties, as
        # does Spark's split with limit -1? (Spark keeps them); corpus use
        # is simple separators
        return F.split(self.build(a[0]), a[1])

    def _fn_split_lines(self, a):
        return F.split(self.build(a[0]), "\\r?\\n")

    def _fn_index_of(self, a):
        pos = F.instr(self.build(a[0]), a[1] if not is_var(a[1]) else self.build(a[1]))
        return F.when(pos > 0, pos - 1)

    def _fn_last_index_of(self, a):
        s, sub = self.build(a[0]), a[1]
        rev_pos = F.instr(F.reverse(s), sub[::-1] if isinstance(sub, str) else F.reverse(self.build(sub)))
        sublen = len(sub) if isinstance(sub, str) else F.length(self.build(sub))
        return F.when(rev_pos > 0, F.length(s) - rev_pos - sublen + 1)

    def _fn_blankp(self, a):
        s = self.build(a[0])
        return s.isNull() | (F.length(F.trim(s)) == 0)

    def _fn_like(self, a):
        # crux.calcite/-like: SQL LIKE (calcite.clj:147-203 surface)
        return self.build(a[0]).like(a[1])

    def _fn_char(self, a):
        x = a[0]
        if isinstance(x, int):
            return F.lit(chr(x))
        return F.char(self.build(x))

    # -- collections tier 2 ------------------------------------------------

    def _fn_second(self, a):
        c = self.build(a[0])
        return F.when(F.size(c) >= 2, F.element_at(c, 2))

    def _fn_ffirst(self, a):
        return F.element_at(F.element_at(self.build(a[0]), 1), 1)

    def _fn_rest(self, a):
        c = self.build(a[0])
        return F.slice(c, 2, F.greatest(F.size(c) - 1, F.lit(0)))

    def _fn_next(self, a):
        c = self.build(a[0])
        return F.when(F.size(c) > 1, F.slice(c, 2, F.size(c) - 1))

    def _fn_butlast(self, a):
        c = self.build(a[0])
        return F.when(F.size(c) > 1, F.slice(c, 1, F.size(c) - 1))

    def _fn_drop(self, a):
        n, c = a[0], self.build(a[1])
        return F.slice(c, n + 1, F.greatest(F.size(c) - n, F.lit(0)))

    def _fn_drop_last(self, a):
        if len(a) == 2:
            n, c = a[0], self.build(a[1])
        else:
            n, c = 1, self.build(a[0])
        return F.slice(c, 1, F.greatest(F.size(c) - n, F.lit(0)))

    def _fn_take_last(self, a):
        n, c = a[0], self.build(a[1])
        return F.when(
            F.size(c) > n, F.slice(c, -n, n)
        ).otherwise(c)

    def _fn_take_nth(self, a):
        n, c = a[0], self.build(a[1])
        return F.filter(c, lambda x, i: i % n == 0)

    def _fn_distinct(self, a):
        return F.array_distinct(self.build(a[0]))

    def _fn_dedupe(self, a):
        c = self.build(a[0])
        return F.filter(c, lambda x, i: (i == 0) | (x != F.element_at(c, i)))

    def _fn_distinctp(self, a):
        cols = [self.build(x) for x in a]
        if len(cols) == 1:
            c = cols[0]
            return F.size(F.array_distinct(c)) == F.size(c)
        arr = F.array(*cols)
        return F.size(F.array_distinct(arr)) == F.size(arr)

    # expression heads that produce collections (for type-polymorphic
    # builtins like empty?/count applied to nested forms)
    _COLL_FNS = {
        "vector", "vec", "set", "sort", "reverse", "range", "take", "conj",
        "rest", "next", "butlast", "drop", "drop-last", "take-last",
        "take-nth", "distinct", "dedupe", "not-empty", "flatten",
        "interpose", "interleave", "cons", "pop", "subvec", "split-at",
        "partition", "partition-all", "repeat", "keys", "vals", "re-seq",
        "split", "split-lines", "shuffle",
    }

    def _is_coll_operand(self, x) -> bool:
        if is_var(x) and x not in self.env:
            return self.dtypes.get(var_col(x), "").startswith(("array", "map"))
        return (
            isinstance(x, (list, tuple))
            and x
            and isinstance(x[0], str)
            and x[0] in self._COLL_FNS
        )

    def _fn_emptyp(self, a):
        c = self.build(a[0])
        if self._is_coll_operand(a[0]):
            return F.size(c) == 0
        return c.isNull() | (F.length(c) == 0)

    def _fn_not_empty(self, a):
        c = self.build(a[0])
        return F.when(F.size(c) > 0, c)

    def _fn_flatten(self, a):
        return F.flatten(self.build(a[0]))

    def _fn_interpose(self, a):
        sep, c = self.build(a[0]), self.build(a[1])
        return F.flatten(
            F.transform(
                c,
                lambda x, i: F.when(i == 0, F.array(x)).otherwise(F.array(sep, x)),
            )
        )

    def _fn_interleave(self, a):
        x, y = self.build(a[0]), self.build(a[1])
        return F.flatten(F.zip_with(x, y, lambda p, q: F.array(p, q)))

    def _fn_cons(self, a):
        return F.concat(F.array(self.build(a[0])), self.build(a[1]))

    def _fn_peek(self, a):
        return F.element_at(self.build(a[0]), -1)

    def _fn_pop(self, a):
        c = self.build(a[0])
        return F.slice(c, 1, F.size(c) - 1)

    def _fn_subvec(self, a):
        # bounds may be variables, like _fn_subs; F.slice takes Columns
        c = self.build(a[0])
        start = self.build(a[1])
        if len(a) > 2:
            return F.slice(c, start + 1, self.build(a[2]) - start)
        return F.slice(c, start + 1, F.size(c) - start)

    def _fn_split_at(self, a):
        n, c = a[0], self.build(a[1])
        return F.array(
            F.slice(c, 1, n),
            F.slice(c, n + 1, F.greatest(F.size(c) - n, F.lit(0))),
        )

    def _fn_partition(self, a):
        n, c = a[0], self.build(a[1])
        k = F.greatest(F.floor(F.size(c) / n).cast("int"), F.lit(1))
        chunks = F.transform(
            F.sequence(F.lit(1), k), lambda i: F.slice(c, (i - 1) * n + 1, n)
        )
        return F.filter(chunks, lambda ch: F.size(ch) == n)

    def _fn_partition_all(self, a):
        n, c = a[0], self.build(a[1])
        k = F.greatest(F.ceil(F.size(c) / n).cast("int"), F.lit(1))
        chunks = F.transform(
            F.sequence(F.lit(1), k), lambda i: F.slice(c, (i - 1) * n + 1, n)
        )
        return F.filter(chunks, lambda ch: F.size(ch) > 0)

    def _fn_repeat(self, a):
        # (repeat n x) — bounded only (clojure's unbounded form is lazy)
        n, x = a[0], self.build(a[1])
        return F.array_repeat(x, n)

    def _fn_frequencies(self, a):
        c = self.build(a[0])
        ks = F.array_distinct(c)
        return F.map_from_arrays(
            ks, F.transform(ks, lambda k: F.size(F.filter(c, lambda y: y == k)))
        )

    def _fn_zipmap(self, a):
        x, y = self.build(a[0]), self.build(a[1])
        n = F.least(F.size(x), F.size(y))
        return F.map_from_arrays(F.slice(x, 1, n), F.slice(y, 1, n))

    def _fn_keys(self, a):
        return F.map_keys(self.build(a[0]))

    def _fn_vals(self, a):
        return F.map_values(self.build(a[0]))

    def _fn_merge(self, a):
        # needs spark.sql.mapKeyDedupPolicy=LAST_WIN for clojure's
        # right-wins semantics (set by ensure_runtime_confs)
        return F.map_concat(*[self.build(x) for x in a])

    def _fn_select_keys(self, a):
        m = self.build(a[0])
        keys = [self.env.get(k, k) if isinstance(k, str) else k for k in a[1]]
        return F.map_filter(m, lambda k, v: k.isin(*keys))

    def _fn_dissoc(self, a):
        m = self.build(a[0])
        keys = [self.env.get(k, k) if isinstance(k, str) else k for k in a[1:]]
        return F.map_filter(m, lambda k, v: ~k.isin(*keys))

    def _fn_assoc(self, a):
        m = self.build(a[0])
        return F.map_concat(
            m, F.create_map(self.build(a[1]), self.build(a[2]))
        )

    def _fn_get_in(self, a):
        c = self.build(a[0])
        for k in a[1]:
            c = c.getItem(k)
        return c

    # -- tier 3: the rest of the reference allowlist ---------------------
    # (crux-core/resources/query-allowlist.edn; enforcement at
    # query.clj:1272-1283). Type predicates resolve against the bound
    # column's Catalyst dtype at COMPILE time — zero runtime cost — since
    # a typed columnar engine knows statically what the reference's
    # tagged-value codec (codec.clj:81-99) discovers per row.

    # expression heads whose result dtype is statically known — used by
    # the compile-time type predicates on nested forms
    _MAP_HEADS = frozenset({
        "zipmap", "merge", "assoc", "dissoc", "select-keys", "frequencies",
        "hash-map", "array-map", "assoc!", "dissoc!",
    })
    _STRING_HEADS = frozenset({
        "str", "subs", "substring", "concat", "lower-case", "upper-case",
        "trim", "ltrim", "rtrim", "capitalize", "initcap", "replace",
        "join", "name", "namespace", "ns-name", "keyword", "format",
        "re-groups", "char",
    })
    _DECIMAL_HEADS = frozenset({"bigdec", "decimal", "bigint", "biginteger"})
    _NUM_HEADS = frozenset({
        "+", "-", "*", "/", "quot", "rem", "mod", "inc", "dec", "abs",
        "count", "size", "long", "int", "double", "float", "short", "byte",
        "ceil", "floor", "round", "truncate", "alength", "compare",
        "index-of", "last-index-of", "char-length",
        "year", "month", "day", "rand", "rand-int",
        "bit-and", "bit-or", "bit-xor", "bit-not", "bit-and-not",
        "bit-shift-left", "bit-shift-right", "unsigned-bit-shift-right",
        "bit-set", "bit-clear", "bit-flip",
    })
    _BOOL_HEADS = frozenset({
        "and", "or", "not", "boolean", "like", "bit-test",
        "<", ">", "<=", ">=", "=", "==", "not=",
    })
    _TS_HEADS = frozenset({
        "date", "last-day", "date-trunc", "current-date",
        "current-timestamp",
    })
    _ARRAY_HEADS = frozenset({
        "vector", "vec", "set", "range", "take", "conj", "tuple",
        "reverse", "sort", "rest", "next", "butlast", "drop", "drop-last",
        "take-last", "take-nth", "distinct", "dedupe", "flatten",
        "interpose", "interleave", "cons", "pop", "subvec", "split-at",
        "split", "split-lines", "partition", "partition-all", "repeat",
        "keys", "vals", "re-seq", "shuffle", "random-sample", "subseq",
        "rsubseq", "cycle", "list", "list*", "hash-set", "sorted-set",
        "sorted-set-by", "disj", "vector-of", "into-array", "to-array-2d",
        "doubles", "floats", "ints", "longs", "shorts", "booleans",
        "chars", "nthnext", "nthrest", "rseq", "transient",
        "persistent!", "conj!", "pop!",
    })

    _FAMILIES = (
        (("tinyint", "smallint", "int", "bigint", "float", "double", "decimal"), "num"),
        (("string",), "str"),
        (("boolean",), "bool"),
        (("timestamp", "date"), "ts"),
        (("array",), "array"),
        (("map",), "map"),
        (("binary",), "bin"),
    )

    # expression heads whose result type depends on their input (element
    # accessors, identity, min/max...) — equality folding must treat them
    # as unknown, never as the "collection-returning" dtype fallback
    _POLY_HEADS = frozenset({
        "get", "get-in", "nth", "first", "last", "second", "ffirst",
        "fnext", "peek", "aget", "identity", "min", "max", "rand-nth",
        "find", "num", "rationalize",
    })

    def _type_family(self, form) -> str | None:
        """Coarse type family for cross-type equality folding; None if
        the dtype is unknown (no folding then)."""
        if self._is_expr_form(form) and form[0] in self._POLY_HEADS:
            return None
        try:
            dt = self._dtype_of(form)
        except Exception:
            return None
        if not dt:
            return None
        for prefixes, fam in self._FAMILIES:
            if dt.startswith(prefixes):
                return fam
        return None

    def _dtype_of(self, form) -> str:
        """Best-effort Catalyst dtype of an expression form ('' unknown)."""
        if is_var(form) and form not in self.env:
            return self.dtypes.get(var_col(form), "")
        if self._is_expr_form(form):
            head = form[0]
            if head in self._MAP_HEADS:
                return "map"
            if head in self._STRING_HEADS:
                return "string"
            if head in self._DECIMAL_HEADS:
                return "decimal"
            if head in self._NUM_HEADS:
                return "bigint"
            if head in self._BOOL_HEADS or head.endswith("?"):
                return "boolean"
            if head in self._TS_HEADS:
                return "timestamp"
            if head in self._ARRAY_HEADS:
                return "array"
            # anything not explicitly enumerated is UNKNOWN — never guess,
            # or cross-type equality folding would constant-fold valid
            # comparisons (e.g. [(= (year ?d) 2024)]) to False
            return ""
        v = self.env.get(form, form) if isinstance(form, str) else form
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return "bigint"
        if isinstance(v, float):
            return "double"
        if isinstance(v, str):
            return "string"
        if isinstance(v, (_dt.datetime, _dt.date)):
            return "timestamp"
        if isinstance(v, (list, tuple, set, frozenset)):
            return "array"
        if isinstance(v, dict):
            return "map"
        if isinstance(v, (bytes, bytearray)):
            return "binary"
        return ""

    def _static_type_pred(self, a, kinds: tuple[str, ...]):
        dt = self._dtype_of(a[0])
        if not dt:
            raise ValueError(
                f"type predicate over untyped operand {a[0]!r} — bind it "
                f"through a fixed attribute so the dtype is known"
            )
        hit = dt.startswith(kinds)
        # null of the right dtype is still not a value of that type
        c = self.build(a[0])
        return (F.lit(hit) & c.isNotNull()) if hit else F.lit(False)

    def _fn_collp(self, a):
        return self._static_type_pred(a, ("array", "map"))

    def _fn_mapp(self, a):
        return self._static_type_pred(a, ("map",))

    def _fn_vectorp(self, a):
        return self._static_type_pred(a, ("array",))

    def _fn_seqp(self, a):
        return self._static_type_pred(a, ("array",))

    def _fn_listp(self, a):
        return self._static_type_pred(a, ("array",))

    def _fn_setp(self, a):
        # sets arrive as arrays in the columnar mapping; a column cannot
        # carry clojure set identity, so set? is statically false
        return F.lit(False)

    def _fn_sequentialp(self, a):
        return self._static_type_pred(a, ("array",))

    def _fn_seqablep(self, a):
        return self._static_type_pred(a, ("array", "map", "string"))

    def _fn_associativep(self, a):
        return self._static_type_pred(a, ("array", "map"))

    def _fn_indexedp(self, a):
        return self._static_type_pred(a, ("array",))

    def _fn_countedp(self, a):
        return self._static_type_pred(a, ("array", "map"))

    def _fn_reversiblep(self, a):
        return self._static_type_pred(a, ("array",))

    def _fn_sortedp(self, a):
        return F.lit(False)  # plain arrays/maps carry no sorted flag

    def _fn_charp(self, a):
        # chars are length-1 strings in the columnar mapping
        c = self.build(a[0])
        if not self._dtype_of(a[0]).startswith("string"):
            return F.lit(False)
        return F.length(c) == 1

    def _fn_bytesp(self, a):
        return self._static_type_pred(a, ("binary",))

    def _fn_decimalp(self, a):
        return self._static_type_pred(a, ("decimal",))

    def _fn_ratiop(self, a):
        return F.lit(False)  # no ratio type in the columnar mapping

    def _fn_rationalp(self, a):
        return self._static_type_pred(
            a, ("tinyint", "smallint", "int", "bigint", "decimal")
        )

    def _fn_keywordp(self, a):
        # keywords are ':'-prefixed strings in the columnar mapping
        if not self._dtype_of(a[0]).startswith("string"):
            return F.lit(False)
        return self.build(a[0]).startswith(":")

    def _fn_symbolp(self, a):
        return F.lit(False)  # symbols don't survive serialization to columns

    def _fn_identp(self, a):
        return self._fn_keywordp(a)

    def _fn_simple_keywordp(self, a):
        if not self._dtype_of(a[0]).startswith("string"):
            return F.lit(False)
        c = self.build(a[0])
        return c.startswith(":") & ~c.substr(F.lit(2), F.length(c)).contains("/")

    def _fn_qualified_keywordp(self, a):
        if not self._dtype_of(a[0]).startswith("string"):
            return F.lit(False)
        c = self.build(a[0])
        return c.startswith(":") & c.contains("/")

    def _fn_simple_identp(self, a):
        return self._fn_simple_keywordp(a)

    def _fn_qualified_identp(self, a):
        return self._fn_qualified_keywordp(a)

    def _fn_simple_symbolp(self, a):
        return F.lit(False)

    def _fn_qualified_symbolp(self, a):
        return F.lit(False)

    def _fn_uuidp(self, a):
        if not self._dtype_of(a[0]).startswith("string"):
            return F.lit(False)
        return self.build(a[0]).rlike(
            "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
            "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
        )

    def _fn_urip(self, a):
        if not self._dtype_of(a[0]).startswith("string"):
            return F.lit(False)
        return self.build(a[0]).rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")

    def _fn_recordp(self, a):
        return F.lit(False)

    def _fn_identicalp(self, a):
        # value identity is the only identity columns have
        return self.build(a[0]) == self.build(a[1])

    def _fn_instancep(self, a):
        raise NotImplementedError(
            "instance? needs JVM class reflection — use the type "
            "predicates (string?/int?/map?/...) instead"
        )

    def _fn_type(self, a):
        dt = self._dtype_of(a[0])
        if not dt:
            raise ValueError("type over untyped operand")
        return F.lit(dt)

    def _fn_cast(self, a):
        raise NotImplementedError(
            "cast needs a JVM class — use long/double/int/bigdec instead"
        )

    def _fn_gensym(self, a):
        raise NotImplementedError(
            "gensym is non-deterministic per row and meaningless in a "
            "set-oriented query; bind a literal instead"
        )

    # seq-tail family
    def _fn_fnext(self, a):
        return F.element_at(self.build(a[0]), 2)

    def _fn_nfirst(self, a):
        # (nfirst x) = (next (first x))
        inner = F.element_at(self.build(a[0]), 1)
        return F.when(F.size(inner) > 1, F.slice(inner, 2, F.size(inner) - 1))

    def _fn_nnext(self, a):
        c = self.build(a[0])
        return F.when(F.size(c) > 2, F.slice(c, 3, F.size(c) - 2))

    def _fn_nthnext(self, a):
        c, n = self.build(a[0]), a[1]
        return F.when(F.size(c) > n, F.slice(c, n + 1, F.size(c) - n))

    def _fn_nthrest(self, a):
        # like nthnext but returns empty seq, not nil
        c, n = self.build(a[0]), a[1]
        return F.when(
            F.size(c) > n, F.slice(c, n + 1, F.size(c) - n)
        ).otherwise(F.slice(c, 1, 0))

    def _fn_rseq(self, a):
        return F.reverse(self.build(a[0]))

    def _fn_seq(self, a):
        # clojure seq: nil on empty collection — the idiomatic
        # non-empty test (if (seq coll) ...)
        c = self.build(a[0])
        return F.when(F.size(c) > 0, c)

    def _fn_empty(self, a):
        return F.slice(self.build(a[0]), 1, 0)

    def _fn_find(self, a):
        # (find m k) -> [k v] entry or nil
        m, k = self.build(a[0]), self.build(a[1])
        return F.when(
            F.map_contains_key(m, k), F.array(k.cast("string"), m.getItem(k).cast("string"))
        )

    # constructors
    def _fn_list(self, a):
        return F.array(*[self.build(x) for x in a])

    def _fn_list_star(self, a):
        # (list* a b coll) — prepend args onto coll
        *heads, tail = a
        out = self.build(tail)
        for h in reversed(heads):
            out = F.concat(F.array(self.build(h)), out)
        return out

    def _fn_hash_map(self, a):
        return F.create_map(*[self.build(x) for x in a])

    def _fn_array_map(self, a):
        return F.create_map(*[self.build(x) for x in a])

    def _fn_hash_set(self, a):
        return F.array_distinct(F.array(*[self.build(x) for x in a]))

    def _fn_sorted_set(self, a):
        return F.array_sort(F.array_distinct(F.array(*[self.build(x) for x in a])))

    def _fn_sorted_set_by(self, a):
        raise NotImplementedError(
            "sorted-set-by takes an arbitrary comparator fn; use "
            "sorted-set (natural order) or sort the result"
        )

    def _fn_disj(self, a):
        out = self.build(a[0])
        for x in a[1:]:
            out = F.array_remove(out, self.build(x))
        return out

    def _fn_vector_of(self, a):
        # (vector-of :int x y ...) — the type tag is advisory here
        return F.array(*[self.build(x) for x in a[1:]])

    def _fn_into_array(self, a):
        return self.build(a[-1])  # arrays are already arrays

    def _fn_to_array_2d(self, a):
        return self.build(a[0])

    # numeric coercions
    def _fn_num(self, a):
        return self.build(a[0])

    def _fn_bigint(self, a):
        # clojure bigint truncates toward zero (decimal cast would round)
        return self.build(a[0]).cast("long").cast("decimal(38,0)")

    def _fn_biginteger(self, a):
        return self._fn_bigint(a)

    def _fn_short(self, a):
        return self.build(a[0]).cast("smallint")

    def _fn_byte(self, a):
        return self.build(a[0]).cast("tinyint")

    def _fn_float(self, a):
        return self.build(a[0]).cast("float")

    def _fn_rationalize(self, a):
        return self.build(a[0])  # no ratio type; numbers pass through

    def _array_cast(self, a, t: str):
        return F.transform(self.build(a[0]), lambda x: x.cast(t))

    def _fn_doubles(self, a):
        return self._array_cast(a, "double")

    def _fn_floats(self, a):
        return self._array_cast(a, "float")

    def _fn_ints(self, a):
        return self._array_cast(a, "int")

    def _fn_longs(self, a):
        return self._array_cast(a, "bigint")

    def _fn_shorts(self, a):
        return self._array_cast(a, "smallint")

    def _fn_booleans(self, a):
        return self._array_cast(a, "boolean")

    def _fn_bytes(self, a):
        return self.build(a[0]).cast("binary")

    def _fn_chars(self, a):
        # string -> array of length-1 strings
        return F.split(self.build(a[0]), "(?!^)(?=.)")

    # java-array reads map to element access; writes have no place in an
    # immutable columnar engine and say so
    def _fn_aget(self, a):
        return F.element_at(self.build(a[0]), self.build(a[1]) + 1)

    def _fn_alength(self, a):
        return F.size(self.build(a[0]))

    def _aset_err(self, a):
        raise NotImplementedError(
            "aset* mutates a java array in place — columns are immutable; "
            "build a new array (assoc/concat/transform) instead"
        )

    _fn_aset = _aset_err
    _fn_aset_boolean = _aset_err
    _fn_aset_byte = _aset_err
    _fn_aset_char = _aset_err
    _fn_aset_double = _aset_err
    _fn_aset_float = _aset_err
    _fn_aset_int = _aset_err
    _fn_aset_long = _aset_err
    _fn_aset_short = _aset_err

    # transients: the persistent ops already have value semantics
    def _fn_transient(self, a):
        return self.build(a[0])

    def _fn_persistent_bang(self, a):
        return self.build(a[0])

    def _fn_conj_bang(self, a):
        return self._fn_conj(a)

    def _fn_assoc_bang(self, a):
        return self._fn_assoc(a)

    def _fn_dissoc_bang(self, a):
        return self._fn_dissoc(a)

    def _fn_pop_bang(self, a):
        return self._fn_pop(a)

    # update family (fn argument restricted to builtin forms)
    def _fn_update(self, a):
        raise NotImplementedError(
            "update's fn argument needs higher-order compilation; use "
            "assoc with an explicit expression instead"
        )

    def _fn_assoc_in(self, a):
        raise NotImplementedError(
            "assoc-in/update-in need recursive struct rebuilds; flatten "
            "the document or use assoc on the leaf map"
        )

    _fn_update_in = _fn_assoc_in

    # randomness (reference-allowlisted; non-deterministic by nature so
    # excluded from oracle-gated paths)
    def _fn_rand(self, a):
        r = F.rand()
        return r * self.build(a[0]) if a else r

    def _fn_rand_int(self, a):
        return F.floor(F.rand() * self.build(a[0])).cast("long")

    def _fn_rand_nth(self, a):
        c = self.build(a[0])
        return F.element_at(c, (F.floor(F.rand() * F.size(c)) + 1).cast("int"))

    def _fn_shuffle(self, a):
        return F.shuffle(self.build(a[0]))

    def _fn_random_sample(self, a):
        # (random-sample prob) as a row predicate — the common sampling use
        if len(a) == 1:
            return F.rand() < self.build(a[0])
        raise NotImplementedError(
            "random-sample over a collection needs per-element randomness "
            "Spark HOF lambdas can't express; sample rows with "
            "(random-sample p) as a predicate instead"
        )

    # subseq over sorted colls: (subseq coll op k) -> elements where
    # (op element k)
    _SUBSEQ_OPS = {
        "<": lambda x, k: x < k,
        "<=": lambda x, k: x <= k,
        ">": lambda x, k: x > k,
        ">=": lambda x, k: x >= k,
    }

    def _fn_subseq(self, a):
        coll, op, k = a[0], a[1], self.build(a[2])
        f = self._SUBSEQ_OPS[op]
        return F.array_sort(F.filter(self.build(coll), lambda x: f(x, k)))

    def _fn_rsubseq(self, a):
        return F.reverse(self._fn_subseq(a))

    def _fn_cycle(self, a):
        raise NotImplementedError(
            "cycle is an infinite lazy seq; use repeat with an explicit "
            "count"
        )

    def _fn_max_key(self, a):
        raise NotImplementedError(
            "max-key/min-key take an arbitrary keyfn; use sort + last or "
            "an aggregate instead"
        )

    _fn_min_key = _fn_max_key

    def _fn_ns_name(self, a):
        return self._fn_namespace(a)

    def _fn_re_matcher(self, a):
        # matcher = (pattern, subject) pair carried as a struct; consumed
        # by re-groups/re-find
        p = self._unwrap_pattern(a[0])
        return F.struct(F.lit(p).alias("p"), self.build(a[1]).alias("s"))

    def _fn_re_groups(self, a):
        # after (re-matcher p s): the full match (group-less patterns —
        # the groups-array form needs a known group count; use re-find
        # with an explicit group index for that)
        m = a[0]
        if isinstance(m, (list, tuple)) and m and m[0] == "re-matcher":
            p = self._unwrap_pattern(m[1])
            return F.regexp_extract(self.build(m[2]), p, 0)
        raise NotImplementedError("re-groups requires a (re-matcher p s) form")
