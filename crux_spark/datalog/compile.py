"""Datalog → DataFrame compiler.

Pipeline (mirrors the reference lifecycle, SURVEY.md §3.1, but emits a
Catalyst logical plan instead of instantiating virtual indexes):

    query map
      -> classify clauses (triple / pred / not / or / rule-call)
      -> group triple patterns by entity term -> one table scan per
         (entity, table): the key perf move — k attributes of one entity
         become ONE parquet scan with k column reads, not k self-joins
      -> rule calls -> relations (inline expansion; recursion -> semi-naive
         fixpoint driver loop, the documented Spark recast of the
         reference's tabled or-join recursion, query.clj:1079-1144)
      -> join graph: greedy shared-variable equi-joins; Catalyst + AQE
         reorder and pick broadcast/SMJ/shuffle-hash (replaces the
         stats-driven greedy order of query.clj:586-703 and the leapfrog
         join of index.clj:179-320)
      -> predicates as Column filters / withColumn bindings (pushed down by
         Catalyst through the joins to the parquet scans)
      -> not/not-join -> left_anti; or/or-join -> union+distinct
      -> find: aggregates (hash grouping on non-agg find vars,
         query.clj:1612-1643), order-by/offset/limit, and the
         set-unless-ordered result semantics of query.clj:1783.
"""

from __future__ import annotations

from collections import defaultdict
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from crux_spark._jvmcache import memo
from crux_spark.catalog import ID_COL, Catalog
from crux_spark.datalog import aggregates as agg
from crux_spark.datalog.builtins import (
    ExprBuilder,
    is_blank,
    is_kw,
    is_var,
    var_col,
)

_SPECIAL = {"not", "not-join", "or", "or-join", "and"}

# fixpoint safety valve for runaway recursive rules
MAX_FIXPOINT_ITERATIONS = 200

# open pred-constraint registry — the reference's extensible
# `q/pred-constraint` multimethod (query.clj:269-273; the crux-lucene
# module registers lucene-text-search this way, lucene_test.clj
# test-or-text-search registers or-text-search). A constraint is
# fn(compiler, df, form, binding) -> DataFrame.
PRED_CONSTRAINTS: dict[str, Any] = {}


def register_pred_constraint(name: str, fn) -> None:
    PRED_CONSTRAINTS[name] = fn


def _is_triple(c: Any) -> bool:
    return (
        isinstance(c, (list, tuple))
        and len(c) in (2, 3)
        and not isinstance(c[0], (list, tuple))
        and is_kw(c[1])
    )


def _is_pred(c: Any) -> bool:
    return (
        isinstance(c, (list, tuple))
        and len(c) in (1, 2)
        and isinstance(c[0], (list, tuple))
    )


def _dedup_map_safe(df: DataFrame) -> DataFrame:
    """Value-dedup that tolerates map-typed columns.

    Spark forbids set operations (``dropDuplicates``/``distinct``) on
    MAP columns (UNSUPPORTED_FEATURE.SET_OPERATION_ON_MAP_TYPE). When any
    column is a map, dedup via its JSON form instead — ``to_json`` over
    ``map_entries`` gives the same value-equality with a stable key order
    within a build. Plain ``dropDuplicates`` otherwise."""
    map_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _T.MapType)
    ]
    if not map_cols:
        return df.dropDuplicates()
    from pyspark.sql import Window

    others = [c for c in df.columns if c not in map_cols]
    w = Window.partitionBy(
        *(others + [f"__mk_{c}" for c in map_cols])
    ).orderBy(F.lit(1))
    return (
        df.select(
            "*",
            *[
                F.to_json(F.map_entries(c)).alias(f"__mk_{c}")
                for c in map_cols
            ],
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*df.columns)
    )


# Typed-projection columns for var-attr scans: the stringified value,
# __typed_num, __typed_ts and __typed_ord columns scan_var_attr projects
# for a value var are pure unresolved expression trees over the EAV
# schema — they depend only on the OUTPUT column name. Building them
# costs ~1,900 py4j round trips (~0.3s) per scan; a query like the
# 11-window mixed-type gate paid that 11 times per compile, so they go
# through the gateway-lifetime memo, keyed by the var column name.
def _var_attr_typed_cols(vc: str) -> list:
    return memo(("var_attr_cols", vc), lambda: _build_var_attr_typed_cols(vc))


def _build_var_attr_typed_cols(vc: str) -> list:
    sel = []
    # LocalTime (nano-of-day long) stringifies in the SQL TIME
    # literal shape: HH:MM:SS, with .micros only when non-zero
    _secs = F.floor(F.col("v_time") / F.lit(1_000_000_000)).cast("long")
    _us = F.floor(
        (F.col("v_time") % F.lit(1_000_000_000)) / F.lit(1000)
    ).cast("long")
    _time_base = F.format_string(
        "%02d:%02d:%02d",
        F.floor(_secs / 3600).cast("long"),
        F.floor((_secs % 3600) / 60).cast("long"),
        (_secs % 60),
    )
    _time_str = F.when(
        _us > 0,
        F.concat(
            _time_base,
            # trailing fractional zeros trimmed, matching the SQL
            # TIME varchar form ('13:30:59.5', not '.500000')
            F.regexp_replace(
                F.format_string(".%06d", _us), "0+$", ""
            ),
        ),
    ).otherwise(_time_base)
    sel.append(F.coalesce(
        F.col("v_string"),
        F.col("v_char"),
        F.col("v_long").cast("string"),
        F.col("v_double").cast("string"),
        F.col("v_dec").cast("string"),
        F.col("v_bigint").cast("string"),
        F.col("v_bool").cast("string"),
        F.col("v_ts").cast("string"),
        F.col("v_inst").cast("string"),
        F.col("v_ldt").cast("string"),
        F.col("v_date").cast("string"),
        F.when(F.col("v_time").isNotNull(), _time_str),
        F.col("v_dur").cast("string"),
    ).alias(vc))
    sel.append(
        F.coalesce(
            F.col("v_double"),
            F.col("v_long").cast("double"),
            # numeric PREDICATES treat decimals as numbers
            # (clojure < over BigDecimal/long/BigInt compares
            # numerically); only the ORDER tag separates them
            F.col("v_dec").cast("double"),
            F.col("v_bigint").cast("double"),
        ).alias(f"{vc}__typed_num")
    )
    sel.append(
        F.coalesce(
            F.col("v_ts"),
            F.col("v_inst"),
            F.col("v_date").cast("timestamp"),
            F.col("v_ldt").cast("timestamp"),
        ).alias(f"{vc}__typed_ts")
    )
    # cross-type TOTAL order (codec.clj:81-99 + 270-354): values
    # sort by type tag first — boolean(4) < long(5) < double(6)
    # < date/timestamp(7) < string(8) < char(9) < bigdec(11) <
    # bigint(12) < biginteger(13) < localdate(14) <
    # localtime(15) < localdatetime(16) < instant(17) <
    # duration(18), nil lowest — then by the typed value within
    # the tag. The tag keys off v_type (bigint/biginteger share
    # one slot but are distinct tags). Spark struct comparison
    # is field-wise, and two rows with equal tags have the same
    # single non-null value field (the other fields are null on
    # both sides, which tie), so one struct column gives
    # order-by the reference's heterogeneous ordering instead of
    # the stringified sort.
    _tag_ids = {
        "boolean": 4, "long": 5, "double": 6, "timestamp": 7,
        "string": 8, "char": 9, "decimal": 11, "bigint": 12,
        "biginteger": 13, "date": 14, "localtime": 15,
        "localdatetime": 16, "instant": 17, "duration": 18,
    }
    _tag = F.lit(3)  # nil lowest
    for _vt, _id in _tag_ids.items():
        _tag = F.when(F.col("v_type") == _vt, F.lit(_id)).otherwise(_tag)
    sel.append(
        F.struct(
            _tag.alias("tag"),
            F.col("v_bool").cast("int").alias("b"),
            F.col("v_long").alias("l"),
            F.col("v_double").alias("d"),
            F.col("v_ts").alias("t"),
            F.col("v_string").alias("s"),
            F.col("v_char").alias("c"),
            F.col("v_dec").alias("dec"),
            F.col("v_bigint").alias("bi"),
            F.col("v_date").alias("dt"),
            F.col("v_time").alias("tm"),
            F.col("v_ldt").alias("ldt"),
            F.col("v_inst").alias("inst"),
            F.col("v_dur").alias("du"),
        ).alias(f"{vc}__typed_ord")
    )
    return sel


class Compiler:
    def __init__(self, catalog: Catalog, rules: list | None = None, env: dict | None = None):
        self.catalog = catalog
        self.spark = catalog.spark
        self.env = env or {}
        self.raw_rules: list = list(rules or [])  # for subquery inheritance
        self.rules: dict[str, list[tuple[list, list]]] = {}
        for r in rules or []:
            head = r[0]
            # a rule head may declare bound (required) args in a leading
            # bracket: [(child-of [p] c) ...] (query.clj rule-head spec,
            # query_test.clj:3543 bound-rule-vars-946). Bound-ness is a
            # seek-order hint in the reference; the set-oriented recast
            # joins on whatever the call site binds, so the annotation
            # flattens to plain args with identical semantics.
            params: list = []
            for a in head[1:]:
                if isinstance(a, (list, tuple)):
                    params.extend(a)
                else:
                    params.append(a)
            self.rules.setdefault(head[0], []).append((params, list(r[1:])))
        for name, defs in self.rules.items():
            arities = {len(params) for params, _ in defs}
            if len(arities) > 1:
                raise ValueError(
                    f"Rule definitions require same arity: {name!r} has "
                    f"definitions with arities {sorted(arities)}"
                )
        self._fresh_n = 0
        self._rule_cache: dict[str, DataFrame] = {}
        # entity var -> table name, recorded by scan_group (used by pull)
        self.entity_tables: dict[str, str] = {}
        # value vars bound through the EAV fallback: var -> {kind: colname}
        # typed side-columns so numeric/temporal predicates don't silently
        # compare stringified values (the reference's tagged codec gives a
        # typed order, codec.clj:81-99)
        self.typed_vars: dict[str, dict[str, str]] = {}
        # id(scan-df) -> number of literal constraints in the scan; the
        # join chain starts from the most-constrained scan (the stats
        # lite analogue of the reference's stats-driven clause order,
        # query.clj:586-703 — selective relations first shrink every
        # intermediate)
        self._scan_scores: dict[int, int] = {}

    # ------------------------------------------------------------------ util

    def _fresh(self, v: str) -> str:
        self._fresh_n += 1
        return f"{v}__g{self._fresh_n}"

    # ---------------------------------------------------------------- clauses

    def _rule_is_computational(self, name: str, _seen: frozenset = frozenset()) -> bool:
        """True if every branch body is pure predicate clauses or calls
        to other computational rules — a 'computation rule' with no data
        domain of its own. Its relation cannot be materialized
        standalone; it is expanded like a macro at the call site (the
        reference expands ALL non-recursive rules this way,
        query.clj:1193-1236)."""
        if name in _seen or self._recursion_group(name):
            return False
        seen = _seen | {name}

        def comp_clause(c) -> bool:
            if _is_pred(c):
                return True
            head = (
                c[0]
                if isinstance(c, (list, tuple)) and c and isinstance(c[0], str)
                else None
            )
            return head in self.rules and self._rule_is_computational(head, seen)

        return all(
            all(comp_clause(c) for c in body) for _, body in self.rules[name]
        )

    def _expand_rule_call(self, name: str, args: list) -> list:
        """Inline a computational rule call: substitute invocation args
        into each branch body (fresh-renaming branch locals; nested
        computational calls expand recursively); multiple branches
        disjoin via or-join over the arg vars."""
        branches = []
        for argvars, body in self.rules[name]:
            mapping = dict(zip(argvars, args))
            for v in sorted(self._collect_vars(body)):
                if v not in mapping:
                    mapping[v] = self._fresh(v)
            sub = [self._substitute(c, mapping) for c in body]
            flat: list = []
            for c in sub:
                head = (
                    c[0]
                    if isinstance(c, (list, tuple)) and c and isinstance(c[0], str)
                    else None
                )
                if head in self.rules and self._rule_is_computational(head):
                    flat.extend(self._expand_rule_call(head, list(c[1:])))
                else:
                    flat.append(c)
            branches.append(flat)
        if len(branches) == 1:
            return branches[0]
        joinvars = [a for a in args if is_var(a) and a not in self.env]
        return [
            ["or-join", joinvars, *[["and", *b] for b in branches]]
        ]

    def compile_clauses(
        self,
        clauses: list,
        extra_rels: list[DataFrame] = (),
        out_vars: "set[str] | None" = None,
    ) -> DataFrame:
        expanded: list = []
        for c in clauses:
            tag = (
                c[0]
                if isinstance(c, (list, tuple)) and c and isinstance(c[0], str)
                else None
            )
            if (
                tag in self.rules
                and tag not in _SPECIAL
                and self._rule_is_computational(tag)
            ):
                expanded.extend(self._expand_rule_call(tag, list(c[1:])))
            else:
                expanded.append(c)
        clauses = expanded
        triples: dict[Any, list] = defaultdict(list)
        preds: list = []
        negs: list = []
        ors: list = []
        rels: list[DataFrame] = list(extra_rels)
        for c in clauses:
            tag = c[0] if isinstance(c, (list, tuple)) and c and isinstance(c[0], str) else None
            if tag == "not":
                negs.append((None, list(c[1:])))
            elif tag == "not-join":
                negs.append((list(c[1]), list(c[2:])))
            elif tag == "or":
                branches = list(c[1:])
                filt = self._or_as_filter(branches)
                if filt is not None:
                    preds.append([filt])
                else:
                    ors.append((None, branches))
            elif tag == "or-join":
                ors.append((list(c[1]), list(c[2:])))
            elif _is_triple(c):
                e = c[0]
                if isinstance(e, set):  # set literal entity -> hashable
                    e = frozenset(e)
                v = c[2] if len(c) == 3 else "_"
                triples[e].append((c[1], v))
            elif (
                isinstance(c, (list, tuple))
                and len(c) in (2, 3)
                and not isinstance(c[0], (list, tuple))
                and c[0] not in self.rules
                and is_var(c[1])
            ):
                # variable attribute position -> EAV fallback scan
                # (rule calls also have a var in position 1 — they are
                # dispatched by the `tag in self.rules` branch below, so
                # this arm must exclude them). A '?'/'!'-suffixed head is
                # the reference's predicate-rule naming convention, never
                # an entity id — surface the missing rule instead of a
                # silently-empty EAV lookup.
                if isinstance(c[0], str) and c[0].endswith(("?", "!")):
                    raise ValueError(
                        f"unknown rule: {c[0]!r} (no :rules entry defines it)"
                    )
                rels.append(self.scan_var_attr(c))
            elif _is_pred(c):
                preds.append(c)
            elif tag in self.rules:
                rels.append(self.compile_rule_call(tag, list(c[1:])))
            else:
                raise ValueError(f"unparseable where clause: {c!r}")
        dfs = [d for e, pats in triples.items() for d in self.scan_group(e, pats)]
        dfs.extend(rels)
        # selective scans first (stable for ties, so unconstrained
        # queries keep their clause order); the greedy chain below then
        # grows outward from the most literal-constrained relation
        if len(dfs) > 1:
            dfs.sort(key=lambda d: -self._scan_scores.get(id(d), 0))
        # Early projection + dedup (set semantics only — out_vars is
        # passed by compile_query exactly when the final result gets a
        # distinct anyway): an existential var dropped as soon as no
        # later clause needs it collapses duplicate-path blowup INSIDE
        # the join chain instead of at the end. A 5-hop graph walk whose
        # middle vars fan out (WatDiv C1: 14M distinct (u,w) pairs out
        # of a vastly larger path bag) goes from materializing every
        # path to materializing each distinct prefix once — the
        # difference between minutes and seconds at 10M triples, and
        # the difference between feasible and not at 100 TB.
        keep = None
        if out_vars is not None:
            keep = {var_col(v) for v in out_vars}
            for p in preds:
                keep |= {var_col(v) for v in self._clause_vars(p)}
            for joinvars, sub in negs + ors:
                keep |= {var_col(v) for v in self._clause_vars(sub)}
                for jv in joinvars or ():
                    keep.add(var_col(jv))
        df = self.join_all(dfs, keep=keep)
        # or/not compile AFTER the base join so branches may be correlated
        # with outer-bound vars (predicates over outer vars inside a
        # negation/disjunction, query_test.clj's not/or corpus)
        if ors or negs:
            # pure filters over already-bound vars commute with the inner
            # or-join and the left_anti — apply them BEFORE branch
            # compilation so (a) they reach the parquet scan and (b) the
            # correlation seeds below see the smallest base relation
            cols = set(df.columns)
            early = [
                p
                for p in preds
                if len(p) == 1
                and {var_col(v) for v in self._clause_vars(p)} <= cols
            ]
            if early:
                df = self.apply_preds(df, early)
                preds = [p for p in preds if p not in early]
            # every correlated branch consumes the base relation again (as
            # its seed, plus the join-back / anti-join itself). Checkpoint
            # the base ONCE so the shared join subtree is computed once,
            # not once per consumer — q21's base (lineitem⋈supplier⋈nation
            # ⋈orders) used to be scanned 4x (VERDICT r2 finding #4); at
            # 100 TB re-scanning lineitem per branch is the whole query.
            branch_sets = [sub for _, sub in ors] + [sub for _, sub in negs]
            reconsumed = any(
                {var_col(v) for v in self._clause_vars(sub)} & set(df.columns)
                for sub in branch_sets
            )
            if reconsumed:
                df = df.localCheckpoint(eager=False)
        for joinvars, branches in ors:
            rel = self.compile_or(joinvars, branches, outer=df, distinct=False)
            shared = sorted(set(df.columns) & set(rel.columns))
            if shared and not (set(rel.columns) - set(shared)):
                # the disjunction binds no NEW vars — it is a pure
                # existence filter, so left_semi (no distinct shuffle, no
                # row duplication risk) replaces distinct + inner join
                df = df.join(rel, on=shared, how="left_semi")
            elif shared:
                df = df.join(rel.distinct(), on=shared, how="inner")
            else:
                df = df.crossJoin(rel.distinct())
        df = self.apply_preds(df, preds)
        for joinvars, sub in negs:
            df = self.apply_not(df, joinvars, sub)
        return df

    def _seed_for(self, outer: DataFrame | None, sub_vars: set[str]) -> list[DataFrame]:
        """Correlation seed: the outer rows projected onto the vars the
        sub-clauses reference. Lets a negation/disjunction branch consist
        of predicates over outer-bound vars alone."""
        if outer is None:
            return []
        shared = sorted({var_col(v) for v in sub_vars} & set(outer.columns))
        if not shared:
            return []
        return [outer.select(*shared).distinct()]

    def _clause_vars(self, form: Any) -> set[str]:
        out = set()
        if is_var(form) and form not in self.env:
            out.add(form)
        elif isinstance(form, (list, tuple)):
            for x in form:
                out |= self._clause_vars(x)
        return out

    def scan_var_attr(self, c: list) -> DataFrame:
        """``[?e ?a ?v]`` over the catalog-wide EAV view (SURVEY §2.2 "var
        in attribute position"): attribute names bind as keyword strings;
        values bind stringified for joins/projection, but typed side-columns
        (``<v>__typed_{num,ts}``) ride along so numeric/temporal predicates
        over ``?v`` compare typed values, not strings (codec.clj:81-99's
        tagged total order)."""
        e, a = c[0], c[1]
        v = c[2] if len(c) == 3 else "_"
        eav = self.catalog.eav_view()
        sel = []
        if is_var(e) and e not in self.env:
            sel.append(F.col("e").alias(var_col(e)))
        elif not is_blank(e):
            eav = eav.filter(F.col("e") == F.lit(str(self.env.get(e, e))))
        sel.append(F.col("a").alias(var_col(a)))
        if is_var(v) and v not in self.env:
            vc = var_col(v)
            # typed projection built once per (JVM, column name) — see
            # _var_attr_typed_cols for the full codec-order commentary
            sel.extend(_var_attr_typed_cols(vc))
            self.typed_vars[v] = {
                "num": f"{vc}__typed_num",
                "ts": f"{vc}__typed_ts",
                "ord": f"{vc}__typed_ord",
            }
        elif not is_blank(v):
            import datetime as _dtmod
            import decimal as _decmod

            from crux_spark import valuetypes as _vt

            lit = self.env.get(v, v)
            # literal v: match within the literal's type class only
            # (codec value equality includes the type tag); wrapper
            # classes (valuetypes.py) check before their base classes
            if isinstance(lit, bool):
                cond = F.col("v_bool") == F.lit(lit)
            elif isinstance(lit, _vt.Char):
                cond = F.col("v_char") == F.lit(str(lit))
            elif isinstance(lit, (_vt.BigInt, _vt.BigInteger)):
                cond = F.col("v_bigint") == F.lit(_decmod.Decimal(int(lit)))
            elif isinstance(lit, _vt.Instant):
                cond = F.col("v_inst") == F.lit(
                    _dtmod.datetime(*lit.timetuple()[:6], lit.microsecond))
            elif isinstance(lit, _vt.LocalDateTime):
                cond = F.col("v_ldt") == F.lit(
                    _dtmod.datetime(*lit.timetuple()[:6], lit.microsecond))
            elif isinstance(lit, _dtmod.datetime):
                cond = F.col("v_ts") == F.lit(lit)
            elif isinstance(lit, _dtmod.date):
                cond = F.col("v_date") == F.lit(lit)
            elif isinstance(lit, _dtmod.time):
                cond = F.col("v_time") == F.lit(_vt.time_to_nanos(lit))
            elif isinstance(lit, _dtmod.timedelta):
                cond = F.col("v_dur") == F.lit(lit)
            elif isinstance(lit, _decmod.Decimal):
                cond = F.col("v_dec") == F.lit(lit)
            elif isinstance(lit, int):
                if lit > 2**63 - 1 or lit < -(2**63):
                    # past long range an integer is a BigInt (the EDN
                    # reader promotes, codec tags 12/13)
                    cond = F.col("v_bigint") == F.lit(_decmod.Decimal(lit))
                else:
                    cond = (F.col("v_string") == F.lit(str(lit))) | (
                        F.col("v_long") == F.lit(lit))
            elif isinstance(lit, float):
                cond = (F.col("v_string") == F.lit(str(lit))) | (
                    F.col("v_double") == F.lit(lit))
            else:
                cond = F.col("v_string") == F.lit(str(lit))
            eav = eav.filter(cond)
        return eav.select(*sel).distinct()

    # ------------------------------------------------------------------ scans

    def scan_group(self, e: Any, patterns: list) -> list[DataFrame]:
        """One entity term + its attribute patterns → per-table scans.

        Replaces the reference's AVE/AEV index accesses
        (crux-core/src/crux/kv/index_store.clj:682-713): attributes of the
        same entity living in one table compile to a single pruned/pushed
        parquet scan instead of per-attribute index seeks.
        """
        by_table: dict[str, list] = defaultdict(list)
        for attr, v in patterns:
            ref = self.catalog.resolve_attr(attr)
            by_table[ref.table].append((ref, v))
        out = []
        for tname, items in by_table.items():
            df = self.catalog.table(tname)
            filters = []
            select = []
            explodes = []
            var_src: dict[str, str] = {}
            n_lit = 0
            if not (is_var(e) and e not in self.env) and not is_blank(e):
                n_lit += 1
            for _ref, _v in items:
                if is_var(_v) and _v in self.env:
                    _v = self.env[_v]
                if not is_var(_v) and not is_blank(_v):
                    n_lit += 1
            if is_var(e) and e not in self.env:
                select.append(F.col(ID_COL).alias(var_col(e)))
                var_src[e] = ID_COL
                self.entity_tables.setdefault(e, tname)
            elif isinstance(e, (set, frozenset)):
                # set literal in entity position = one-of match
                # (query_test.clj:1180-1193); empty set matches nothing,
                # and a nil member matches nothing (nil is not an entity
                # id — nil-in-entity-position-shouldnt-yield-results-1486)
                vals = [str(x) for x in e if x is not None]
                filters.append(
                    F.col(ID_COL).isin(vals) if vals else F.lit(False)
                )
            elif not is_blank(e):
                ev = self.env.get(e, e)
                # literal nil entity yields no results (issue 1486)
                filters.append(
                    F.lit(False) if ev is None else F.col(ID_COL) == F.lit(ev)
                )
            for ref, v in items:
                col = F.col(ref.column)
                if is_var(v) and v in self.env:
                    v = self.env[v]
                if is_var(v):
                    if ref.is_array:
                        explodes.append((var_col(v), ref.column))
                        filters.append(col.isNotNull())
                    elif v == e:
                        # self-join rewrite [e :a e] (query.clj:443-448)
                        filters.append(col == F.col(var_src[v]))
                    elif v in var_src:
                        filters.append(col == F.col(var_src[v]))
                    else:
                        select.append(col.alias(var_col(v)))
                        var_src[v] = ref.column
                        filters.append(col.isNotNull())
                elif is_blank(v):
                    # existence-only pattern [?e :attr _]
                    filters.append(col.isNotNull())
                elif isinstance(v, (set, frozenset)):
                    # set literal in value position = one-of match
                    # (query_test.clj:1153-1178); against a
                    # cardinality-many attribute, ANY member matching ANY
                    # element suffices (reference: each set member is a
                    # triple alternative). Empty set matches nothing. A
                    # nil member matches nil-valued attrs (issue 1487 —
                    # `#{nil 2}` matches both) via an explicit IS NULL
                    # disjunct, since isin() silently drops nulls.
                    vals = list(v)
                    non_null = [x for x in vals if x is not None]
                    if not vals:
                        filters.append(F.lit(False))
                    elif ref.is_array:
                        cond = (
                            F.arrays_overlap(
                                col, F.array(*[F.lit(x) for x in non_null])
                            )
                            if non_null
                            else F.lit(False)
                        )
                        if None in vals:
                            cond = cond | F.exists(col, lambda x: x.isNull())
                        filters.append(cond)
                    else:
                        cond = (
                            col.isin(non_null) if non_null else F.lit(False)
                        )
                        if None in vals:
                            cond = cond | col.isNull()
                        filters.append(cond)
                elif (
                    isinstance(v, (list, tuple))
                    and v
                    and v[0] in ("vector", "list")
                ):
                    # a literal collection value matches the WHOLE stored
                    # collection (hashing-quoted-lists-1197: quoted lists
                    # are single values, not cardinality-many)
                    arr = F.array(*[F.lit(x) for x in v[1:]])
                    filters.append(col == arr)
                elif v is None:
                    # literal nil value matches only nil-valued attrs
                    # (literal-nil-value-...-1487). Wide-table model
                    # caveat, documented divergence: an entity MISSING
                    # the key entirely is indistinguishable from one
                    # carrying an explicit nil (both are NULL cells), so
                    # this matches both; the reference distinguishes them.
                    filters.append(
                        F.exists(col, lambda x: x.isNull())
                        if ref.is_array
                        else col.isNull()
                    )
                elif ref.is_array:
                    filters.append(F.array_contains(col, F.lit(v)))
                else:
                    filters.append(col == F.lit(v))
            for f in filters:
                df = df.filter(f)
            for out_name, src in explodes:
                df = df.withColumn(out_name, F.explode(F.col(src)))
                select.append(F.col(out_name))
            scan = df.select(*select) if select else df.select(F.lit(1).alias("__exists"))
            self._scan_scores[id(scan)] = n_lit
            out.append(scan)
        return out

    # ------------------------------------------------------------------ joins

    def join_all(
        self, dfs: list[DataFrame], keep: "set[str] | None" = None
    ) -> DataFrame:
        """Greedy shared-variable join chain; Catalyst/AQE reorders and
        chooses physical strategy, so the chain order only needs to be
        *connected*, not optimal.

        ``keep`` (set-semantics queries only): columns the caller still
        needs after the chain. After each pairwise join, columns needed
        neither by the caller nor by any remaining relation are dropped
        and the prefix deduplicated — see compile_clauses on why."""
        if not dfs:
            return self.spark.range(1).select(F.lit(1).alias("__unit"))
        remaining = list(dfs)
        cur = remaining.pop(0)

        def _project_dedup(cur: DataFrame) -> DataFrame:
            future: set = set()
            for d in remaining:
                future |= set(d.columns)
            base_keep = (keep | future) - {"__exists"}

            def needed(c: str) -> bool:
                if "__typed_" in c:
                    return c.split("__typed_")[0] in base_keep
                return c in base_keep

            cols = [c for c in cur.columns if needed(c)]
            if set(cols) == set(cur.columns) or not cols:
                return cur
            return _dedup_map_safe(cur.select(*cols))

        while remaining:
            for i, d in enumerate(remaining):
                shared = sorted(
                    c
                    for c in set(cur.columns) & set(d.columns) - {"__exists"}
                    # typed EAV side-columns are carried data, never join
                    # keys (null for non-numeric values, so null-equality
                    # would wrongly drop rows); drop the right-side copy
                    if "__typed_" not in c
                )
                if shared:
                    dup_typed = [
                        c
                        for c in set(cur.columns) & set(d.columns)
                        if "__typed_" in c
                    ]
                    cur = cur.join(d.drop(*dup_typed), on=shared, how="inner")
                    remaining.pop(i)
                    if keep is not None:
                        cur = _project_dedup(cur)
                    break
            else:
                # disconnected component -> cartesian product. Broadcast the
                # right side: a plain CartesianProductExec MULTIPLIES
                # partition counts (p*q tasks — a 4-scan chain at 8
                # partitions each is 4096 tasks of scheduler overhead),
                # while BroadcastNestedLoopJoin keeps the left layout.
                # Disconnected relations in Datalog queries are small
                # (literal :in relations, scalar subquery results); a huge
                # one would be a cross-product bug in the query itself.
                cur = cur.crossJoin(F.broadcast(remaining.pop(0)))
        if "__exists" in cur.columns:
            cur = cur.drop("__exists")
        return cur

    # -------------------------------------------------------------- predicates

    def apply_preds(self, df: DataFrame, preds: list) -> DataFrame:
        """Apply predicate clauses once their vars are bound; binding forms
        (scalar / collection) per query.clj:933-952. Index-aware predicate
        constraints (`q` subqueries, `get-attr`, `text-search`) dispatch
        before expression building — the open pred-constraint multimethod
        of query.clj:269-273."""
        pending = list(preds)
        progress = True
        while pending and progress:
            progress = False
            for p in list(pending):
                form, binding = p[0], (p[1] if len(p) > 1 else None)
                if isinstance(form, (list, tuple)) and form and (
                    form[0]
                    in ("q", "get-attr", "text-search", "wildcard-text-search")
                    or form[0] in PRED_CONSTRAINTS
                ):
                    handled, df = self._special_pred(df, form, binding)
                    if handled:
                        pending.remove(p)
                        progress = True
                    continue
                eb = ExprBuilder(
                    set(df.columns),
                    self.env,
                    {f.name: f.dataType.simpleString() for f in df.schema.fields},
                    typed=self.typed_vars,
                )
                need = eb.vars_in(form)
                if not all(var_col(v) in df.columns for v in need):
                    continue
                if binding is None:
                    # clojure truthiness for non-boolean predicate returns
                    # (query_test.clj:578-587 [(identity e)] keeps all rows):
                    # only nil/false are falsey, any other value passes
                    expr = eb.build(form)
                    dtype = df.select(expr.alias("__p")).schema[0].dataType
                    if dtype.simpleString() != "boolean":
                        expr = expr.isNotNull()
                    df = df.filter(expr)
                elif is_var(binding):
                    if binding in self.env:
                        # binding to an :in-bound var unifies with its
                        # value ([(+ 1 bah) bah] with bah=1 is empty,
                        # query_test.clj:400-407)
                        df = df.filter(
                            eb.build(form) == F.lit(self.env[binding])
                        )
                    elif var_col(binding) in df.columns:
                        # output var already bound -> unification filter
                        df = df.filter(eb.build(form) == F.col(var_col(binding)))
                    else:
                        df = df.withColumn(var_col(binding), eb.build(form))
                elif (
                    isinstance(binding, (list, tuple))
                    and len(binding) == 2
                    and binding[1] == "..."
                ):
                    coll = eb.build(form)
                    coll_dtype = df.select(coll.alias("__c")).schema[0].dataType
                    if binding[0] in self.env:
                        if isinstance(coll_dtype, _T.MapType):
                            coll = F.map_entries(coll)
                        df = df.filter(
                            F.array_contains(coll, F.lit(self.env[binding[0]]))
                        )
                    elif var_col(binding[0]) in df.columns:
                        # collection binding to an ALREADY-bound var
                        # unifies — membership filter, no explode
                        # (query.clj:933-952 binding = unification;
                        # SPARQL VALUES over a bound var relies on it)
                        if isinstance(coll_dtype, _T.MapType):
                            coll = F.map_entries(coll)
                        df = df.filter(
                            F.array_contains(coll, F.col(var_col(binding[0])))
                        )
                    elif isinstance(coll_dtype, _T.MapType):
                        # seq'ing a map yields its [k v] entries
                        # (query_test.clj:1227-1236 test-collection-returns)
                        entry = F.explode(F.map_entries(coll))
                        df = df.withColumn("__ent", entry)
                        if coll_dtype.keyType == coll_dtype.valueType:
                            pair = F.array(
                                F.col("__ent.key"), F.col("__ent.value")
                            )
                        else:
                            pair = F.struct(
                                F.col("__ent.key"), F.col("__ent.value")
                            )
                        df = df.withColumn(var_col(binding[0]), pair).drop("__ent")
                    else:
                        df = df.withColumn(var_col(binding[0]), F.explode(coll))
                elif (
                    isinstance(binding, (list, tuple))
                    and binding
                    and isinstance(binding[0], (list, tuple))
                ):
                    # relation binding [[?x ?y]]: fn returns a collection of
                    # tuples; explode then destructure (query.clj:933-952)
                    inner = binding[0]
                    df = df.withColumn("__rel", F.explode(eb.build(form)))
                    df = self._destructure(df, "__rel", inner)
                elif isinstance(binding, (list, tuple)) and all(
                    is_var(v) or is_blank(v) for v in binding
                ):
                    # tuple binding [?x ?y]: fn returns one tuple; bind each
                    # element positionally (query.clj:933-952)
                    df = df.withColumn("__tup", eb.build(form))
                    df = self._destructure(df, "__tup", binding)
                else:
                    raise NotImplementedError(f"binding form {binding!r}")
                pending.remove(p)
                progress = True
        if pending:
            missing = [p for p in pending]
            raise ValueError(f"predicates with unbound vars: {missing!r}")
        return df

    def _destructure(self, df: DataFrame, src: str, vars_: list) -> DataFrame:
        """Bind positional elements of a tuple column to vars; an
        already-bound var unifies (equality filter) instead of rebinding.
        Tuples are structs (heterogeneous, via the `tuple` builtin) or
        arrays (homogeneous, e.g. `vector`) — accessed positionally either
        way. Excess vars past the end of the tuple bind to nil
        (query_test.clj:1251-1295 "can bind excess vars to nil"); the
        binding vars themselves must be distinct (query_test.clj:1269)."""
        from pyspark.sql import types as T

        named = [v for v in vars_ if not is_blank(v)]
        if len(set(named)) != len(named):
            raise ValueError(
                f"Return variables not distinct: {vars_!r}"
            )
        dtype = df.schema[src].dataType
        fields = dtype.names if isinstance(dtype, T.StructType) else None
        for i, v in enumerate(vars_):
            if is_blank(v):
                continue
            if isinstance(dtype, T.NullType):
                # e.g. (vector) — an empty literal collection types as void;
                # every positional element is nil
                elem = F.lit(None)
            elif fields is not None:
                # struct tuple: excess positions bind nil
                elem = (
                    F.col(src).getField(fields[i])
                    if i < len(fields)
                    else F.lit(None)
                )
            else:
                # array tuple: F.get returns NULL out of bounds (vs
                # getItem, which is an ANSI error on short arrays)
                elem = F.get(F.col(src), F.lit(i))
            if var_col(v) in df.columns:
                df = df.filter(elem == F.col(var_col(v)))
            else:
                df = df.withColumn(var_col(v), elem)
        return df.drop(src)

    def _special_pred(self, df: DataFrame, form, binding) -> tuple[bool, DataFrame]:
        """Index-aware predicate constraints.

        ["q", {subquery}, *args]       nested query (query.clj:973-986);
            scalar binding -> broadcast cross join of the 1-row result;
            relation binding [[?a ?b]] -> join on shared vars (or cross)
        ["get-attr", "?e", ":attr"]    leaf attribute lookup
            (query.clj:954-971) -> left join, nulls when absent
        ["text-search", ":attr", "q"]  scored full-text relation
            (crux-lucene/src/crux/lucene.clj:146-188) with relation
            binding [[?e ?score]]
        """
        kind = form[0]
        if kind == "q":
            subq = dict(form[1])
            raw_args = list(form[2:])
            from crux_spark.datalog.compile import compile_query

            # sub-queries inherit rules from the parent query
            # (query_test.clj test-sub-queries "can inherit rules")
            if self.raw_rules:
                subq["rules"] = list(subq.get("rules", [])) + self.raw_rules

            in_spec = list(subq.get("in", []))
            # the reference's :in may lead with $ (the db); positional
            # args never include it here, so drop a leading $
            if in_spec and in_spec[0] == "$":
                in_spec = in_spec[1:]

            # split args: outer-bound vars make the subquery CORRELATED —
            # the reference evaluates it per binding tuple
            # (query.clj:973-986); the Spark recast rewrites it as a join:
            # the correlated var becomes a relation :in fed by the outer
            # rows, and is prepended to :find so results join back.
            corr: list[tuple[str, str]] = []  # (outer col, sub var)
            new_in, sub_args = [], []
            for spec, a in zip(in_spec, raw_args):
                if (
                    is_var(a)
                    and a not in self.env
                    and is_var(spec)
                    and var_col(a) in df.columns
                ):
                    new_in.append([[spec]])
                    sub_args.append(
                        df.select(
                            F.col(var_col(a)).alias(var_col(spec))
                        ).distinct()
                    )
                    corr.append((var_col(a), var_col(spec)))
                else:
                    if (
                        is_var(a)
                        and a not in self.env
                        and var_col(a) not in df.columns
                    ):
                        raise ValueError(
                            f"subquery argument {a!r} is an unbound "
                            "variable: bind it in an earlier clause or "
                            "pass it via :in before the subquery runs"
                        )
                    new_in.append(spec)
                    sub_args.append(self.env.get(a, a))
            subq["in"] = new_in  # also drops a stripped leading $
            if corr:
                subq["find"] = [f"?{s}" for _, s in corr] + list(subq["find"])
            sub = compile_query(self.catalog, subq, *sub_args)
            ncorr = len(corr)
            if binding is None:
                # subquery as predicate: keep rows where it is non-empty
                if corr:
                    sel = sub.toDF(*[c for c, _ in corr], *sub.columns[ncorr:])
                    return True, df.join(
                        sel.select(*[c for c, _ in corr]).distinct(),
                        on=[c for c, _ in corr],
                        how="left_semi",
                    )
                return True, (df if sub.head(1) else df.limit(0))
            if is_var(binding):
                col = var_col(binding)
                if corr:
                    sel = sub.toDF(*[c for c, _ in corr], col)
                    return True, df.join(sel, on=[c for c, _ in corr], how="inner")
                sub = sub.toDF(col)
                return True, df.crossJoin(F.broadcast(sub))
            if isinstance(binding, (list, tuple)) and binding and isinstance(
                binding[0], (list, tuple)
            ):
                cols = [var_col(v) for v in binding[0]]
                sub = sub.toDF(*[c for c, _ in corr], *cols)
                shared = sorted(
                    (set(df.columns) & set(cols)) | {c for c, _ in corr}
                )
                if shared:
                    return True, df.join(sub, on=shared, how="inner")
                return True, df.crossJoin(sub)
            if isinstance(binding, (list, tuple)) and all(
                is_var(v) or is_blank(v) for v in binding
            ):
                # tuple binding [x]: one result row expected
                cols = [var_col(v) for v in binding]
                sub = sub.toDF(*[c for c, _ in corr], *cols)
                shared = sorted(
                    (set(df.columns) & set(cols)) | {c for c, _ in corr}
                )
                if shared:
                    return True, df.join(sub, on=shared, how="inner")
                return True, df.crossJoin(sub)
            raise NotImplementedError(f"q binding form {binding!r}")
        if kind == "get-attr":
            # full surface (query_test.clj:1054-1127 test-get-attr):
            # scalar binding, collection binding [v ...], 3-arg default,
            # no binding = existence predicate, unknown attributes.
            # Model note: scalar attributes bind scalars (the reference
            # wraps every get-attr result in a collection; the
            # wide-column model has no per-attr collections except
            # cardinality-many arrays).
            evar, attr = form[1], form[2]
            has_default = len(form) > 3
            default = form[3] if has_default else None
            if var_col(evar) not in df.columns:
                return False, df
            try:
                ref = self.catalog.resolve_attr(attr)
            except KeyError:
                ref = None
            coll_binding = (
                isinstance(binding, (list, tuple))
                and len(binding) == 2
                and binding[1] == "..."
            )
            if ref is None:
                # unknown attribute: no entity has a value
                if binding is None:
                    return True, df.limit(0)
                vcol = var_col(binding[0] if coll_binding else binding)
                if coll_binding and not has_default:
                    return True, df.limit(0)
                return True, df.withColumn(vcol, F.lit(default))
            t = self.catalog.table(ref.table)
            ecol = var_col(evar)
            if binding is None:
                # use as predicate: keep rows whose entity HAS the attr
                present = t.filter(F.col(ref.column).isNotNull()).select(
                    F.col(ID_COL).alias(ecol)
                )
                return True, df.join(present, on=ecol, how="left_semi")
            vcol = var_col(binding[0] if coll_binding else binding)
            if coll_binding:
                val = (
                    F.explode(F.col(ref.column))
                    if ref.is_array
                    else F.col(ref.column)
                )
                d2 = t.filter(F.col(ref.column).isNotNull()).select(
                    F.col(ID_COL).alias(ecol), val.alias(vcol)
                )
                if has_default:
                    # entities with no values keep one row carrying the
                    # default (which may itself be nil)
                    out = df.join(d2, on=ecol, how="left")
                    if default is not None:
                        out = out.withColumn(
                            vcol, F.coalesce(F.col(vcol), F.lit(default))
                        )
                    return True, out
                return True, df.join(d2, on=ecol, how="inner")
            d2 = t.select(
                F.col(ID_COL).alias(ecol), F.col(ref.column).alias(vcol)
            )
            out = df.join(d2, on=ecol, how="left")
            if has_default and default is not None and not ref.is_array:
                out = out.withColumn(vcol, F.coalesce(F.col(vcol), F.lit(default)))
            return True, out
        if kind in ("text-search", "wildcard-text-search"):
            return True, self._text_search_pred(df, kind, form, binding)
        if kind in PRED_CONSTRAINTS:
            return True, PRED_CONSTRAINTS[kind](self, df, form, binding)
        return False, df

    def _resolve_text_query(self, query):
        """The search string may be a literal or an :in-bound var
        (lucene_test.clj test-use-in-argument); non-strings raise the
        reference's error."""
        if isinstance(query, str) and query.startswith("?"):
            if query in self.env:
                query = self.env[query]
            else:
                raise NotImplementedError(
                    "text-search pattern must be a literal or :in-bound "
                    f"value, got unbound var {query!r} (per-row patterns "
                    "are not supported)"
                )
        if not isinstance(query, str):
            raise ValueError("Lucene text search values must be String")
        return query

    def _text_av_index(self, table: str, column: str):
        cache = getattr(self.catalog, "_av_text_indexes", None)
        if cache is None:
            cache = self.catalog._av_text_indexes = {}
        key = (table, column)
        if key not in cache:
            from crux_spark.functions.text_search import build_av_text_index

            cache[key] = build_av_text_index(
                self.catalog.table(table), ID_COL, column
            )
        return cache[key]

    def _text_search_pred(self, df: DataFrame, kind, form, binding) -> DataFrame:
        """text-search / wildcard-text-search as scored relations
        (lucene.clj:146-188): [e v score] for an attribute search,
        [e v a score] for the across-attributes wildcard variant. The
        index derives from THIS catalog's snapshot, so past/future
        versions are excluded exactly like the reference's
        temporally-filtered Lucene join (lucene_test.clj
        test-exclude-future-results / test-past-fuzzy-results-excluded)."""
        from functools import reduce as _reduce

        from crux_spark.functions.text_search import search_av

        if kind == "text-search":
            if len(form) != 3 or not (
                isinstance(form[1], str) and form[1].startswith(":")
            ):
                raise ValueError(
                    f"text-search expects (text-search :attr query), got {form!r}"
                )
            query = self._resolve_text_query(form[2])
            try:
                ref = self.catalog.resolve_attr(form[1])
            except Exception:
                ref = None
            if ref is None:
                rel = self.spark.createDataFrame(
                    [], "eid string, v string, score double"
                )
            else:
                rel = search_av(*self._text_av_index(ref.table, ref.column), query)
            order = ["eid", "v", "score"]
        else:
            if len(form) != 2:
                raise ValueError(
                    f"wildcard-text-search expects one query arg, got {form!r}"
                )
            query = self._resolve_text_query(form[1])
            parts = []
            for t in self.catalog.tables():
                tdf = self.catalog.table(t)
                for fld in tdf.schema.fields:
                    if fld.name in (ID_COL, "id", "eid"):
                        # entity ids are not text content (the reference
                        # indexes attribute values, never :crux.db/id)
                        continue
                    if fld.dataType.simpleString() in ("string", "array<string>"):
                        part = search_av(
                            *self._text_av_index(t, fld.name), query
                        ).withColumn("a", F.lit(":" + fld.name))
                        parts.append(part.select("eid", "v", "a", "score"))
            rel = (
                _reduce(lambda a, b: a.unionByName(b), parts)
                if parts
                else self.spark.createDataFrame(
                    [], "eid string, v string, a string, score double"
                )
            )
            order = ["eid", "v", "a", "score"]
        if not (
            isinstance(binding, (list, tuple))
            and binding
            and isinstance(binding[0], (list, tuple))
        ):
            raise ValueError(
                f"{kind} requires a relation binding [[e v ...]], got {binding!r}"
            )
        inner = binding[0]
        sel = []
        for i, v in enumerate(inner):
            if is_blank(v):
                continue
            src = F.col(order[i]) if i < len(order) else F.lit(None)
            sel.append(src.alias(var_col(v)))
        proj = rel.select(*sel)
        shared = sorted(set(df.columns) & set(proj.columns))
        if shared:
            return df.join(proj, on=shared, how="inner")
        return df.crossJoin(proj)

    # ---------------------------------------------------------------- not / or

    _local_counter = 0

    def _rename_branch_locals(self, clauses: list, keep: list) -> list:
        """α-rename vars not in `keep` to fresh names: or-join/not-join
        listed vars are the ONLY unification interface — an inner var
        reusing an outer name must NOT capture the outer binding
        (DataScript or-join corpus, query_test.clj:2280-2286). :in-bound
        env vars stay (they are global constants)."""
        keep_set = set(keep)
        locals_ = {
            v
            for v in self._clause_vars(clauses)
            if v not in keep_set and v not in self.env
        }
        if not locals_:
            return clauses
        Compiler = type(self)
        Compiler._local_counter += 1
        n = Compiler._local_counter
        mapping = {v: f"?__loc{n}_{var_col(v)}" for v in locals_}
        return [self._substitute(c, mapping) for c in clauses]

    def apply_not(self, df: DataFrame, joinvars: list | None, sub: list) -> DataFrame:
        if joinvars is not None:
            sub = self._rename_branch_locals(sub, joinvars)
        seed = self._seed_for(df, self._clause_vars(sub))
        sub_df = self.compile_clauses(sub, extra_rels=seed)
        if joinvars is None:
            shared = sorted(set(df.columns) & set(sub_df.columns))
        else:
            shared = sorted(var_col(v) for v in joinvars)
        if not shared:
            raise ValueError("not clause shares no variables with outer query")
        # distinct BEFORE the anti join: the branch usually has high
        # duplication on the correlation key (q21: many late lineitems
        # per order) — the partial aggregation combines map-side, so the
        # anti-join shuffle carries unique keys instead of the raw
        # branch rows (measured ~25% off q21 wall at sf0.1; the win
        # grows with duplication at scale)
        return df.join(
            sub_df.select(*shared).distinct(), on=shared, how="left_anti"
        )

    def _or_as_filter(self, branches: list):
        """If every `or` branch is pure predicate clauses (over outer-bound
        vars), compile the whole disjunction to ONE filter expression — a
        single pushed-down scan instead of a union of sub-plans (the shape
        TPC-H q19's 3-branch `or` wants)."""
        branch_forms = []
        for b in branches:
            cls = list(b[1:]) if isinstance(b, (list, tuple)) and b and b[0] == "and" else [b]
            forms = []
            for c in cls:
                if not (_is_pred(c) and len(c) == 1):
                    return None
                forms.append(c[0])
            branch_forms.append(["and", *forms] if len(forms) > 1 else forms[0])
        return ["or", *branch_forms]

    @staticmethod
    def _try_merge_or_branches(branches: list) -> "list | None":
        """Or-branches that are IDENTICAL except one literal inside one
        triple clause merge into a single branch carrying a set literal
        (one-of) at that position — N full branch plans (N copies of
        every join, then union + distinct) collapse to ONE plan with an
        isin filter. The classic shape is SPARQL
        `{ ?r :name "A" } UNION { ?r :name "B" }` and the reference's
        or-of-literals (query.clj compiles those to the same index
        range union this rewrite produces). Returns None when branches
        differ in structure, in more than one position, or in a
        non-literal — semantics there need the general union path."""
        lits = (str, int, float, bool)
        norm = []
        for b in branches:
            if not isinstance(b, (list, tuple)) or not b:
                return None
            norm.append(list(b[1:]) if b[0] == "and" else [b])
        first = norm[0]
        if len(norm) < 2 or any(len(n) != len(first) for n in norm[1:]):
            return None
        diff_clause = None
        for ci in range(len(first)):
            if all(n[ci] == first[ci] for n in norm[1:]):
                continue
            if diff_clause is not None:
                return None  # branches differ in 2+ clauses
            diff_clause = ci
        if diff_clause is None:
            return [["and"] + first]  # identical branches: keep one
        cands = [n[diff_clause] for n in norm]
        c0 = cands[0]
        # the differing clause must be a triple [e :attr v?] in every
        # branch, same attr, same length
        if not all(
            isinstance(c, (list, tuple))
            and len(c) == len(c0)
            and len(c) in (2, 3)
            and isinstance(c[1], str)
            and c[1].startswith(":")
            and c[1] == c0[1]
            for c in cands
        ):
            return None
        diff_pos = None
        for pi in range(len(c0)):
            if all(c[pi] == c0[pi] for c in cands[1:]):
                continue
            if diff_pos is not None:
                return None  # two positions differ inside the clause
            diff_pos = pi
        if diff_pos is None or diff_pos == 1:
            return None
        vals = [c[diff_pos] for c in cands]
        # plain same-type literals only (vars would change binding
        # semantics; mixed types would hit isin's implicit casts)
        if not all(
            isinstance(v, lits) and not isinstance(v, bool)
            and type(v) is type(vals[0]) and not (
                isinstance(v, str) and (v.startswith("?") or v == "_")
            )
            for v in vals
        ):
            return None
        merged_clause = list(c0)
        merged_clause[diff_pos] = frozenset(vals)
        merged = list(first)
        merged[diff_clause] = merged_clause
        return [["and"] + merged]

    def compile_or(
        self,
        joinvars: list | None,
        branches: list,
        outer: DataFrame | None = None,
        distinct: bool = True,
    ) -> DataFrame:
        merged = self._try_merge_or_branches(branches)
        if merged is not None:
            branches = merged
        bdfs = []
        for b in branches:
            cls = (
                list(b[1:])
                if isinstance(b, (list, tuple)) and b and b[0] == "and"
                else [b]
            )
            if joinvars is not None:
                cls = self._rename_branch_locals(cls, joinvars)
            seed = self._seed_for(outer, self._clause_vars(cls))
            bdfs.append(self.compile_clauses(cls, extra_rels=seed))
        if joinvars is None:
            common = set(bdfs[0].columns)
            for d in bdfs[1:]:
                common &= set(d.columns)
            cols = sorted(common)
        else:
            cols = sorted(var_col(v) for v in joinvars)
        if not cols:
            raise ValueError("or branches bind no common variables")
        out = reduce(lambda a, b: a.unionByName(b), [d.select(*cols) for d in bdfs])
        return out.distinct() if distinct else out

    # ------------------------------------------------------------------- rules

    def _substitute(self, form: Any, mapping: dict[str, str]) -> Any:
        if is_var(form):
            return mapping.get(form, form)
        if isinstance(form, (list, tuple)):
            return [self._substitute(x, mapping) for x in form]
        if isinstance(form, (set, frozenset)):
            return form
        return form

    def _body_references(self, body: list, target: str, seen: set) -> bool:
        for c in body:
            if not isinstance(c, (list, tuple)) or not c:
                continue
            head = c[0] if isinstance(c[0], str) else None
            if head in self.rules:
                if head == target:
                    return True
                if head not in seen:
                    seen.add(head)
                    for _, b in self.rules[head]:
                        if self._body_references(b, target, seen):
                            return True
            elif head in ("not", "or", "and"):
                if self._body_references(list(c[1:]), target, seen):
                    return True
            elif head in ("not-join", "or-join"):
                if self._body_references(list(c[2:]), target, seen):
                    return True
        return False

    def _compile_rule_branch(
        self,
        argvars: list,
        body: list,
        canon: list[str],
        const_args: dict[int, Any] | None = None,
    ) -> DataFrame:
        mapping = {v: f"?{c}" for v, c in zip(argvars, canon)}
        # call-site constant specialization (bug-507 shape: a rule body of
        # pure predicates over a literal argument has no data clause to
        # bind the canon var — push the literal INTO the body, the
        # reference's rule-expansion behavior, query.clj:1193-1236)
        for i, lit in (const_args or {}).items():
            mapping[argvars[i]] = lit
        for v in sorted(self._collect_vars(body)):
            if v not in mapping:
                mapping[v] = self._fresh(v)
        sub_body = [self._substitute(c, mapping) for c in body]
        df = self.compile_clauses(sub_body)
        for i, lit in (const_args or {}).items():
            # a CALLABLE arg (query_test.clj:2393 calling-rule-twice-44:
            # {:?fn (constantly true)}) was substituted into the body as
            # a predicate head; it has no column value — carry null, the
            # call site never filters on const-arg columns
            df = df.withColumn(
                canon[i], F.lit(None) if callable(lit) else F.lit(lit)
            )
        return df.select(*canon)

    def _collect_vars(self, form: Any) -> set[str]:
        out = set()
        if is_var(form):
            out.add(form)
        elif isinstance(form, (list, tuple)):
            for x in form:
                out |= self._collect_vars(x)
        return out

    def rule_relation(self, name: str) -> DataFrame:
        """Relation DF for a rule over canonical columns __r0..__rN.

        Recursive rules are the Spark recast of the reference's tabled
        recursion (query.clj:1079-1144): a transitive-closure-shaped rule
        evaluates by relation squaring (_tc_doubling), or by seeded BFS
        from the constant when a call site binds an endpoint
        (_tc_seeded); every other recursion group runs the driver-side
        semi-naive fixpoint (_fixpoint_group). localCheckpoint truncates
        lineage so the plan doesn't grow across iterations.
        """
        return self._rule_relation_specialized(name, None)

    def _rule_relation_specialized(
        self, name: str, const_args: dict[int, Any] | None
    ) -> DataFrame:
        key = (
            name
            if not const_args
            else (name, tuple(sorted((i, repr(v)) for i, v in const_args.items())))
        )
        if key in self._rule_cache:
            return self._rule_cache[key]
        group = sorted(self._recursion_group(name))
        if not group:
            defs = self.rules[name]
            canon = [f"__r{i}" for i in range(len(defs[0][0]))]
            dfs = [
                self._compile_rule_branch(a, b, canon, const_args)
                for a, b in defs
            ]
            rel = reduce(lambda x, y: x.unionByName(y), dfs).distinct()
            self._rule_cache[key] = rel
            return rel
        if group == [name]:
            doubled = self._tc_doubling(name)
            if doubled is not None:
                self._rule_cache[name] = doubled
                return doubled
        self._fixpoint_group(group)
        return self._rule_cache[name]

    def _tc_doubling(self, name: str) -> DataFrame | None:
        """Transitive-closure specialization: when a self-recursive
        arity-2 rule is exactly

            [(r ?x ?y) E...(?x ?y)]
            [(r ?x ?y) E...(?x ?z) (r ?z ?y)]     (or the left-linear mirror)

        with the recursive branch's residual alpha-equivalent to the base
        branch, the fixpoint is TC(E) and evaluates by relation SQUARING:
        S <- S union (S compose S), converging in ceil(log2(diameter))
        rounds instead of diameter rounds. A depth-10^4 chain in 100 TB of
        edges is 14 self-joins, not 10^4 recompiles — the iteration count
        is the one fixpoint cost Spark cannot amortize (per-round job
        latency), so this is the scale lever; non-TC shapes fall back to
        the semi-naive fixpoint below."""
        E = self._tc_edge_relation(name)
        if E is None:
            return None
        S = E.localCheckpoint()
        n = S.count()
        for _ in range(64):  # 2^64 diameter bound
            # the squaring self-join must NEVER broadcast: S doubles every
            # round and its post-checkpoint size estimate lures AQE into a
            # driver-OOM broadcast once the closure passes a few million
            # rows — pin a sort-merge join (both sides are the same large,
            # already-checkpointed relation; SMJ is the 100 TB-safe shape)
            comp = (
                S.alias("a")
                .join(
                    S.alias("b").hint("merge"),
                    F.col("a.__r1") == F.col("b.__r0"),
                )
                .select(F.col("a.__r0"), F.col("b.__r1"))
            )
            S2 = S.unionByName(comp).distinct().localCheckpoint()
            n2 = S2.count()
            if n2 == n:
                return S
            S, n = S2, n2
        raise RuntimeError(f"TC doubling for {name!r} did not converge")

    def _tc_edge_relation(self, name: str) -> DataFrame | None:
        """When `name` is a plain arity-2 TC shape (see _tc_doubling),
        the compiled base-branch edge relation E over (__r0, __r1);
        None otherwise."""
        info = self._tc_shape_info(name)
        if info is None:
            return None
        E, t, d, k = info
        return E if k == 2 else None

    def _tc_shape_info(self, name: str):
        """Generalized (labeled) TC-shape detection: a 2-branch
        self-recursive rule whose recursive branch passes every head
        param through the self-call except ONE (the transit position t,
        replaced by a fresh var), whose residual becomes alpha-equal to
        the base branch when the fresh var takes head param d's place.
        Every E-tuple is then an edge v_t → v_d carrying the remaining
        params as LABELS (e.g. the SPARQL variable-predicate closure:
        arity-3 (?p ?x ?y), edges x→y labeled p — per-predicate
        closure). Returns (E, t, d, arity) with E the compiled base
        relation over __r0..__rN, or None."""
        defs = self.rules[name]
        if len(defs) != 2:
            return None
        k = len(defs[0][0])
        if len(defs[1][0]) != k or k < 2:
            return None

        def top_refs(body):
            return [
                c
                for c in body
                if isinstance(c, (list, tuple)) and c and c[0] == name
            ]

        def any_nested_ref(body) -> bool:
            for c in body:
                if not isinstance(c, (list, tuple)) or not c:
                    continue
                head = c[0] if isinstance(c[0], str) else None
                if head in ("not", "or", "and", "not-join", "or-join"):
                    sub = list(c[1:]) if head in ("not", "or", "and") else list(c[2:])
                    if top_refs(sub) or any_nested_ref(sub):
                        return True
            return False

        base = [(p, b) for p, b in defs if not top_refs(b)]
        rec = [(p, b) for p, b in defs if len(top_refs(b)) == 1]
        if len(base) != 1 or len(rec) != 1:
            return None
        (bp, bb), (rp, rb) = base[0], rec[0]
        if any_nested_ref(bb) or any_nested_ref(rb):
            return None
        if not all(is_var(p) for p in rp) or len(set(rp)) != k:
            return None
        sc = top_refs(rb)[0]
        args = list(sc[1:])
        if len(args) != k:
            return None
        diff = [i for i in range(k) if args[i] != rp[i]]
        if len(diff) != 1:
            return None
        t = diff[0]
        f = args[t]
        if not is_var(f) or f in rp:
            return None
        residual = [c for c in rb if c is not sc]

        def alpha(params, body):
            mapping: dict[str, str] = {}

            def walk(form):
                if is_var(form):
                    return mapping.setdefault(form, f"_v{len(mapping)}")
                if isinstance(form, (list, tuple)):
                    return tuple(walk(e) for e in form)
                return form

            return walk([list(params)] + list(body))

        base_alpha = alpha(bp, bb)
        for d in range(k):
            if d == t:
                continue
            cand = [self._substitute(c, {f: rp[d]}) for c in residual]
            if alpha(rp, cand) == base_alpha:
                canon = [f"__r{i}" for i in range(k)]
                E = self._compile_rule_branch(bp, bb, canon).distinct()
                return E, t, d, k
        return None

    def _tc_seeded(self, name: str, bound_idx: int, seed) -> DataFrame | None:
        """Demand-driven closure for a TC-shaped rule invoked with a
        BOUND endpoint: semi-naive frontier expansion from the seed over
        the edge relation, instead of materializing the full closure.

        Why this exists: squaring computes ALL-PAIRS reachability — on a
        dense real-world graph (social hubs) the closure is Θ(V²) rows
        and the squaring join composes Θ(V³) intermediate pairs, hours
        of spill for an answer that only needs one row's reach (found by
        the WatDiv 10x smoke: `<User0> follows+ ?v` ground to a halt at
        3k users). Seeded BFS does rounds = diameter of the REACHED
        region, each round |frontier ⋈ E| — the magic-set adornment of
        TC, and the shape a 100 TB graph query must take when an
        endpoint is bound. Long-diameter graphs pay more rounds than
        squaring's log₂, but their per-round work is tiny — and the
        unbound call sites still get the squaring path.

        Works for LABELED closures too (any arity matched by
        _tc_shape_info): extra head params ride the walk as label
        columns and each chain keeps its labels constant — e.g. the
        SPARQL variable-predicate closure `<const> ?p+ ?y` walks all
        per-predicate graphs from the seed in one BFS, labels unbound."""
        info = self._tc_shape_info(name)
        if info is None:
            return None
        E, t, d, k = info
        if bound_idx not in (t, d):
            return None  # label-bound only: no transit seed to walk from
        other = d if bound_idx == t else t
        labels = [i for i in range(k) if i not in (t, d)]
        b_col, o_col = f"__r{bound_idx}", f"__r{other}"
        # walk state uses __l* names so joins back against E (which the
        # frontier's lineage derives from) are never self-ambiguous
        lcols = [f"__l{i}" for i in labels]
        E = E.localCheckpoint(eager=False)  # re-joined every round
        frontier = (
            E.filter(F.col(b_col) == F.lit(seed))
            .select(
                *[F.col(f"__r{i}").alias(f"__l{i}") for i in labels],
                F.col(o_col).alias("__n"),
            )
            .distinct()
            .localCheckpoint()
        )
        # reached is the lazy union of the per-round frontier
        # checkpoints, collapsed (re-checkpointed) every few rounds:
        # fully lazy would hand round k a k-leg union plan — quadratic
        # PLANNING time on long-diameter walks (a 300-deep chain went
        # from seconds to minutes); fully eager copies O(|reached|)
        # every round. Capping the legs bounds plan depth while paying
        # the copy only once per _COLLAPSE rounds.
        _COLLAPSE = 8
        frontiers = [frontier]
        reached = frontier
        cnt = frontier.count()
        reached_rows = cnt  # exact: every frontier is counted when materialized
        # Broadcasting the frontier keeps E un-shuffled: past the
        # auto-broadcast threshold (E is the full edge relation — at
        # graph scale it NEVER broadcasts) the join would otherwise
        # re-shuffle E every round. The frontier's row count is exact (it
        # is a materialized checkpoint) — but an explicit F.broadcast hint
        # bypasses Spark's BYTE-based autoBroadcastJoinThreshold, so the
        # guard must measure bytes, not rows: 2M rows of wide string
        # labels can be hundreds of serialized MB. Rows are capped
        # directly; bytes via a sampled row width (see _est_bytes on why
        # optimizer stats cannot be trusted here); anything over either
        # cap falls back to AQE's choice.
        bcast_cap = 2_000_000
        bcast_byte_cap = 64 << 20  # 64 MiB serialized — driver-safe
        # below this row count even pathological 1 KiB rows stay under
        # the byte cap, so the common tiny-frontier rounds skip the
        # sampling job entirely
        bcast_free_rows = 50_000

        def _est_bytes(df, rows: int) -> int | None:
            """Sampled per-row width x exact row count. The optimizer's
            sizeInBytes is useless here: a checkpointed frame reports its
            ORIGIN plan's estimate, and the origin joins against the
            lazily-checkpointed E whose unknown stats multiply out to
            astronomically large defaults (found the hard way: the r7
            broadcast hint silently never fired once a byte guard trusted
            those stats)."""
            if rows <= bcast_free_rows:
                return None  # caller treats as within-cap
            try:
                sample = df.limit(256).collect()
                if not sample:
                    return 0
                w = sum(
                    sum(
                        len(v) if isinstance(v, str) else 8
                        for v in r
                        if v is not None
                    )
                    + 16
                    for r in sample
                ) / len(sample)
                return int(w * rows)
            except Exception:
                return None

        for _ in range(100_000):
            if not cnt:
                break
            cond = F.col("__n") == E[b_col]
            for i in labels:
                cond = cond & (F.col(f"__l{i}") == E[f"__r{i}"])
            fb = _est_bytes(frontier, cnt)
            small = cnt <= bcast_cap and (fb is None or fb <= bcast_byte_cap)
            probe = F.broadcast(frontier) if small else frontier
            step = (
                probe.join(E, cond)
                .select(
                    *[E[f"__r{i}"].alias(f"__l{i}") for i in labels],
                    E[o_col].alias("__n"),
                )
                .distinct()
            )
            # the novelty anti-join's right side is the reached set —
            # its exact cumulative row count is the sum of frontier
            # counts, so the same guarded broadcast removes the
            # remaining per-round sort-merge (left_anti builds on the
            # right side)
            r_small = reached_rows <= bcast_cap and (
                reached_rows <= bcast_free_rows
                or (fb is not None and fb * (reached_rows / max(cnt, 1)) <= bcast_byte_cap)
            )
            anti_rhs = F.broadcast(reached) if r_small else reached
            frontier = step.join(anti_rhs, lcols + ["__n"], "left_anti").localCheckpoint()
            cnt = frontier.count()
            reached_rows += cnt
            frontiers.append(frontier)
            reached = reduce(
                lambda a, b: a.unionByName(b), frontiers
            )
            if len(frontiers) >= _COLLAPSE:
                reached = reached.localCheckpoint()
                # the superseded per-round frontier checkpoints (and the
                # previous collapsed reached) are unreferenced by any
                # later plan once the new checkpoint materializes —
                # drop the python refs and collect so the ContextCleaner
                # can reclaim their executor storage blocks during long
                # walks instead of after the whole query
                frontiers = [reached]
                import gc as _gc

                _gc.collect()
        else:
            raise RuntimeError(f"seeded closure for {name!r} did not converge")
        out = []
        for i in range(k):
            if i == bound_idx:
                out.append(F.lit(seed).alias(f"__r{i}"))
            elif i == other:
                out.append(F.col("__n").alias(f"__r{i}"))
            else:
                out.append(F.col(f"__l{i}").alias(f"__r{i}"))
        return reached.select(*out)

    def _recursion_group(self, name: str) -> set[str]:
        """Rules mutually recursive with `name` (including `name` itself if
        self-recursive): m is in the group iff m reaches name and name
        reaches m through rule calls."""
        reaches_name = {
            m
            for m in self.rules
            if self._body_references(
                [c for _, b in self.rules[m] for c in b], name, set()
            )
        }
        group = set()
        for m in reaches_name:
            if m == name or self._body_references(
                [c for _, b in self.rules[name] for c in b], m, set()
            ):
                group.add(m)
        if name in reaches_name:
            group.add(name)
        return group if group else set()

    def _fixpoint_group(self, group: list[str]) -> None:
        """Joint semi-naive fixpoint over a (possibly mutually) recursive
        rule group: each round joins single-reference branches against the
        previous round's delta (others against the totals) until no
        member grows. Handles mutual recursion, which the reference
        supports via tabled or-join recursion (query.clj:1079-1144)."""
        # stratification guard: negation over a rule in the SAME recursion
        # group is non-monotone — the naive fixpoint would not converge to
        # the stratified model (the reference's tabled recursion has the
        # same restriction in practice; Datalog-paper stratified programs
        # keep negation on lower strata)
        def negated_refs(body) -> set[str]:
            out = set()
            for c in body:
                if not isinstance(c, (list, tuple)) or not c:
                    continue
                head = c[0] if isinstance(c[0], str) else None
                if head == "not":
                    out |= direct_refs(list(c[1:]))
                elif head == "not-join":
                    out |= direct_refs(list(c[2:]))
                elif head in ("or", "and"):
                    out |= negated_refs(list(c[1:]))
                elif head == "or-join":
                    out |= negated_refs(list(c[2:]))
            return out

        canon_of = {
            m: [f"__r{i}" for i in range(len(self.rules[m][0][0]))] for m in group
        }
        totals: dict[str, DataFrame | None] = {m: None for m in group}
        counts: dict[str, int] = {m: -1 for m in group}

        def direct_refs(body) -> set[str]:
            out = set()
            for c in body:
                if not isinstance(c, (list, tuple)) or not c:
                    continue
                head = c[0] if isinstance(c[0], str) else None
                if head in self.rules:
                    out.add(head)
                elif head in ("not", "or", "and"):
                    out |= direct_refs(list(c[1:]))
                elif head in ("not-join", "or-join"):
                    out |= direct_refs(list(c[2:]))
            return out

        def branch_ready(body) -> bool:
            # gate on DIRECT rule calls only: compilation consumes the
            # referenced rules' current totals, never their bodies
            return all(
                totals.get(m) is not None or m not in group
                for m in direct_refs(body)
            )

        for m in group:
            for _, body in self.rules[m]:
                bad = negated_refs(body) & set(group)
                if bad:
                    raise ValueError(
                        f"non-stratified negation: rule {m!r} negates "
                        f"{sorted(bad)!r} inside its own recursion group"
                    )

        def group_ref_list(body) -> list[str]:
            """Group-member references WITH multiplicity (incl. nested in
            or/and — negated refs are banned above)."""
            out: list[str] = []
            for c in body:
                if not isinstance(c, (list, tuple)) or not c:
                    continue
                head = c[0] if isinstance(c[0], str) else None
                if head in self.rules:
                    if head in group:
                        out.append(head)
                elif head in ("not", "or", "and"):
                    out += group_ref_list(list(c[1:]))
                elif head in ("not-join", "or-join"):
                    out += group_ref_list(list(c[2:]))
            return out

        # SEMI-NAIVE evaluation: after the bootstrap iteration, a branch
        # with exactly one recursive reference is recompiled against that
        # member's DELTA (tuples new last round) instead of its total —
        # per-round work tracks the growth frontier, not the whole
        # relation, so a depth-d closure costs O(|result|) total instead
        # of O(d x |result|). Branches with 2+ references (bidipath
        # shapes) and bootstrap rounds fall back to totals, which stays
        # correct (monotone) just less incremental. Convergence = a round
        # where no member produced new tuples.
        prev_delta: dict[str, DataFrame | None] = {m: None for m in group}
        for it in range(MAX_FIXPOINT_ITERATIONS):
            grew = False
            new_delta: dict[str, DataFrame | None] = {m: None for m in group}
            for m in group:
                for k, v in totals.items():
                    if v is not None:
                        self._rule_cache[k] = v
                dfs = []
                for a, b in self.rules[m]:
                    if not branch_ready(b):
                        continue
                    refs = group_ref_list(b)
                    if it > 0 and not refs:
                        # ref-free branches are static: already in totals
                        continue
                    if (
                        it > 0
                        and len(refs) == 1
                        and prev_delta.get(refs[0]) is not None
                    ):
                        saved = self._rule_cache.get(refs[0])
                        self._rule_cache[refs[0]] = prev_delta[refs[0]]
                        try:
                            dfs.append(
                                self._compile_rule_branch(a, b, canon_of[m])
                            )
                        finally:
                            self._rule_cache[refs[0]] = saved
                    else:
                        dfs.append(self._compile_rule_branch(a, b, canon_of[m]))
                if not dfs:
                    # nothing new derivable this round for m (e.g. its
                    # delta dependency was empty)
                    continue
                cand = reduce(lambda x, y: x.unionByName(y), dfs).distinct()
                if totals[m] is None:
                    # first successful computation initializes the member
                    # (even if empty) and counts as progress so dependent
                    # members can bootstrap next round
                    delta = cand.localCheckpoint()
                    n = delta.count()
                    totals[m] = delta
                    grew = True
                else:
                    delta = (
                        cand.join(totals[m], on=canon_of[m], how="left_anti")
                        .distinct()
                        .localCheckpoint()
                    )
                    n = delta.count()
                    if n:
                        totals[m] = (
                            totals[m].unionByName(delta).localCheckpoint()
                        )
                        grew = True
                if n:
                    counts[m] = (counts[m] if counts[m] > 0 else 0) + n
                    new_delta[m] = delta
            prev_delta = new_delta
            if not grew:
                if all(v is not None for v in totals.values()):
                    break
                raise ValueError(
                    f"recursive rule group {group!r} has no reachable "
                    "non-recursive branch"
                )
        else:
            raise RuntimeError(f"rule group {group!r} did not reach fixpoint")
        for m in group:
            self._rule_cache[m] = totals[m]

    # ------------------------------------------------- magic sets (top-down)

    def _is_computation_group(self, name: str) -> bool:
        """True for a self-recursive rule whose bodies are pure predicate
        clauses + self-calls (no triple patterns, no or/not). Bottom-up
        evaluation diverges for these (the arg domain is unbounded); they
        need demand-driven evaluation — the reference gets this for free
        from top-down tabled resolution (query.clj:1079-1144)."""
        group = self._recursion_group(name)
        if group != {name}:
            return False
        for _, body in self.rules[name]:
            for c in body:
                head = c[0] if isinstance(c, (list, tuple)) and c else None
                if head == name:
                    continue
                if not _is_pred(c):
                    return False
        return True

    def _magic_fixpoint(self, name: str, bound: list[int], seed_rows: list[tuple]) -> DataFrame:
        """Demand-driven (magic-set) evaluation of a pure-computation
        self-recursive rule, adorned by the `bound` arg positions.

        Phase 1 seeds the demand relation with the caller's bound-arg tuple
        and closes it: per branch, the predicate prefix computable from the
        bound args alone derives the bound-arg tuples of each self-call.
        Phase 2 runs the usual bottom-up fixpoint with every branch joined
        to the (now finite) demand relation. This is the classical magic-set
        transformation (Bancilhon/Maier/Sagiv/Ullman, PODS'86) — the Spark
        recast of the reference's top-down tabling."""
        defs = self.rules[name]
        nargs = len(defs[0][0])
        canon = [f"__r{i}" for i in range(nargs)]
        dcols = [canon[i] for i in bound]
        demands = self.spark.createDataFrame(seed_rows, dcols).distinct()

        def branch_demand_plans(argvars, body):
            """Compile the demand-prefix of one branch against the current
            demand relation; yield one DF of new demand tuples per
            self-call whose bound positions are prefix-computable."""
            mapping = {v: f"?{c}" for v, c in zip(argvars, canon)}
            for v in sorted(self._collect_vars(body)):
                if v not in mapping:
                    mapping[v] = self._fresh(v)
            sub = [self._substitute(c, mapping) for c in body]
            bound_vars = {f"?{c}" for c in dcols}
            prefix: list = []
            calls: list[list] = []
            for c in sub:
                if isinstance(c[0], str) and c[0] == name:
                    calls.append(list(c[1:]))
                    continue
                if _is_pred(c):
                    eb_vars = self._clause_vars(c[0])
                    if eb_vars <= bound_vars:
                        prefix.append(c)
                        if len(c) > 1 and is_var(c[1]):
                            bound_vars.add(c[1])
            out = []
            for call_args in calls:
                dvars = [call_args[i] for i in bound]
                if not all(
                    (is_var(v) and v in bound_vars) or not is_var(v)
                    for v in dvars
                ):
                    raise ValueError(
                        f"rule {name!r}: self-call bound args {dvars!r} are "
                        "not derivable from the caller's bound args"
                    )
                df = self.compile_clauses(list(prefix), extra_rels=[demands])
                sel = [
                    (F.col(var_col(v)) if is_var(v) else F.lit(v)).alias(dc)
                    for v, dc in zip(dvars, dcols)
                ]
                out.append(df.select(*sel))
            return out

        for _ in range(MAX_FIXPOINT_ITERATIONS):
            n0 = demands.count()
            new = [demands]
            for a, b in defs:
                new.extend(branch_demand_plans(a, b))
            demands = (
                reduce(lambda x, y: x.unionByName(y), new)
                .distinct()
                .localCheckpoint()
            )
            if demands.count() == n0:
                break
        else:
            raise RuntimeError(f"rule {name!r}: demand closure did not converge")

        # phase 2: bottom-up fixpoint restricted to the demanded tuples.
        # Branches containing a self-call are skipped until a first total
        # exists (same gating as _fixpoint_group's branch_ready).
        total: DataFrame | None = None
        count = -1
        for _ in range(MAX_FIXPOINT_ITERATIONS):
            if total is not None:
                self._rule_cache[name] = total
            dfs = []
            for a, b in defs:
                has_self = any(
                    isinstance(c[0], str) and c[0] == name for c in b
                )
                if has_self and total is None:
                    continue
                mapping = {v: f"?{c}" for v, c in zip(a, canon)}
                for v in sorted(self._collect_vars(b)):
                    if v not in mapping:
                        mapping[v] = self._fresh(v)
                sub_body = [self._substitute(c, mapping) for c in b]
                df = self.compile_clauses(sub_body, extra_rels=[demands])
                dfs.append(df.select(*canon))
            if not dfs:
                raise ValueError(
                    f"computation rule {name!r} has no non-recursive branch"
                )
            new_total = (
                reduce(lambda x, y: x.unionByName(y), dfs)
                .distinct()
                .localCheckpoint()
            )
            n = new_total.count()
            if n == count:
                break
            total, count = new_total, n
        else:
            raise RuntimeError(f"rule {name!r}: magic fixpoint did not converge")
        self._rule_cache.pop(name, None)
        return total

    def compile_rule_call(self, name: str, args: list) -> DataFrame:
        expected = len(self.rules[name][0][0])
        if len(args) != expected:
            raise ValueError(
                f"Rule invocation has wrong arity, expected: {expected} "
                f"for {name!r}, got {len(args)}"
            )
        if name not in self._rule_cache and self._is_computation_group(name):
            bound = [
                i for i, a in enumerate(args) if (not is_var(a)) or a in self.env
            ]
            if not bound:
                raise ValueError(
                    f"computation rule {name!r} needs at least one bound "
                    "argument at the call site (unbounded domain otherwise)"
                )
            seed = tuple(
                self.env.get(a, a) for i, a in enumerate(args) if i in bound
            )
            rel = self._magic_fixpoint(name, bound, [seed])
            sel, filters = [], []
            seen: dict[str, int] = {}
            for i, a in enumerate(args):
                c = F.col(f"__r{i}")
                if is_var(a) and a not in self.env:
                    if a in seen:
                        filters.append(c == F.col(f"__r{seen[a]}"))
                    else:
                        sel.append(c.alias(var_col(a)))
                        seen[a] = i
                elif is_blank(a):
                    continue
                else:
                    filters.append(c == F.lit(self.env.get(a, a)))
            df = rel
            for f in filters:
                df = df.filter(f)
            return df.select(*sel).distinct() if sel else df.select(
                F.lit(1).alias("__exists")
            ).limit(1)
        const_args = {
            i: self.env.get(a, a)
            for i, a in enumerate(args)
            if not (is_var(a) and a not in self.env) and not is_blank(a)
        }
        if const_args and not self._recursion_group(name):
            # specialize the rule body with call-site literals instead of
            # computing the full relation then filtering — required when
            # the body has no data clause for that arg (bug 507), and a
            # strictly smaller plan otherwise
            rel = self._rule_relation_specialized(name, const_args)
        else:
            rel = None
            if (
                const_args
                and self._recursion_group(name) == {name}
                and name not in self._rule_cache
            ):
                # TC-shaped recursion with a bound endpoint: seeded BFS
                # from the constant instead of the full (possibly dense)
                # closure — see _tc_seeded. Cached per (rule, seed).
                # Try each bound position: label-bound indices don't
                # seed (return None), a transit-bound one does.
                for bidx in sorted(const_args):
                    skey = (name, "seed", bidx, repr(const_args[bidx]))
                    if skey in self._rule_cache:
                        rel = self._rule_cache[skey]
                    else:
                        rel = self._tc_seeded(name, bidx, const_args[bidx])
                        if rel is not None:
                            self._rule_cache[skey] = rel
                    if rel is not None:
                        break
            if rel is None:
                rel = self.rule_relation(name)
        sel, filters = [], []
        seen: dict[str, int] = {}
        for i, a in enumerate(args):
            c = F.col(f"__r{i}")
            if is_var(a) and a not in self.env:
                if a in seen:
                    filters.append(c == F.col(f"__r{seen[a]}"))
                else:
                    sel.append(c.alias(var_col(a)))
                    seen[a] = i
            elif is_blank(a):
                continue
            elif i not in const_args or self._recursion_group(name):
                filters.append(c == F.lit(self.env.get(a, a)))
        df = rel
        for f in filters:
            df = df.filter(f)
        return df.select(*sel).distinct() if filters or const_args else df.select(*sel)


# ------------------------------------------------------------------ top level


_QUERY_KEYS = (
    "find", "where", "in", "rules", "args", "order-by", "order_by",
    "limit", "offset", "keys", "syms", "strs", "timeout", "full-results",
)


def normalize_query(query) -> dict:
    """Accept the reference's vector query form (api_test.clj
    test-query "query vector": ``[:find e :where [e :name "Ivan"]]``) —
    a flat list alternating section keywords and their clauses — in
    addition to the map form. Also validates the map has :find
    (api_test.clj "malformed query")."""
    if isinstance(query, (list, tuple)):
        out: dict = {}
        section = None
        for item in query:
            if isinstance(item, str) and item.lstrip(":") in _QUERY_KEYS:
                section = item.lstrip(":")
                if section in ("limit", "offset", "timeout"):
                    out[section] = None
                else:
                    out[section] = []
            elif section is None:
                raise ValueError(
                    f"Query didn't match expected structure: leading {item!r}"
                )
            elif isinstance(out.get(section), list):
                out[section].append(item)
            else:
                out[section] = item
        query = out
    if not isinstance(query, dict) or "find" not in query:
        raise ValueError(
            "Query didn't match expected structure (no :find): "
            f"{query!r}"
        )
    return query


def compile_query(catalog: Catalog, query: dict, *args: Any) -> DataFrame:
    query = normalize_query(query)
    find = query["find"]
    where = query.get("where", [])
    inspecs = query.get("in", [])
    rules = query.get("rules", [])
    order_by = query.get("order-by") or query.get("order_by")
    limit = query.get("limit")
    offset = query.get("offset")
    # :keys / :syms / :strs all rename result columns (query_test.clj
    # test-returning-maps — keyword/symbol/string map keys collapse to
    # column names here); arity must match :find
    keys = query.get("keys") or query.get("syms") or query.get("strs")
    if keys is not None and len(keys) != len(query["find"]):
        raise ValueError(
            f":keys/:syms/:strs arity ({len(keys)}) does not match "
            f":find arity ({len(query['find'])})"
        )

    # the reference's :in may lead with $ (the db value); the db is
    # implicit here (the catalog), so a leading $ consumes no argument
    if inspecs and inspecs[0] == "$":
        inspecs = inspecs[1:]

    # legacy :args (query.clj normalize-query/:args, used across
    # query_test.clj 697/882/885/906/946): a list of binding MAPS forming
    # one relation; vars = union of keys, a missing key binds null. The
    # recast appends it as a relation :in — the same distributed join, no
    # driver-side per-tuple evaluation. Model note: a nil arg value joins
    # like SQL null (matches nothing) because the wide-column mapping
    # cannot distinguish stored-nil from absent.
    args_maps = query.get("args")
    if args_maps:
        arg_vars: list[str] = []
        for m in args_maps:
            for k in m:
                if k not in arg_vars:
                    arg_vars.append(k)
        if arg_vars:
            inspecs = list(inspecs) + [[list(arg_vars)]]
            args = list(args) + [
                [tuple(m.get(v) for v in arg_vars) for m in args_maps]
            ]
    if len(inspecs) != len(args):
        raise ValueError(f":in arity mismatch: {len(inspecs)} specs, {len(args)} args")
    env: dict[str, Any] = {}
    rels: list[DataFrame] = []
    spark = catalog.spark
    for spec, val in zip(inspecs, args):
        if is_var(spec):
            env[spec] = val
        elif isinstance(spec, (list, tuple)) and len(spec) == 2 and spec[1] == "...":
            rels.append(spark.createDataFrame([(v,) for v in val], [var_col(spec[0])]))
        elif isinstance(spec, (list, tuple)) and spec and isinstance(spec[0], (list, tuple)):
            cols = [var_col(v) for v in spec[0]]
            if isinstance(val, DataFrame):
                # relation fed by a DataFrame (correlated-subquery rewrite:
                # the outer rows arrive distributed, never collected)
                rels.append(val.toDF(*cols))
            else:
                rows_ = [tuple(r) for r in val]
                try:
                    rels.append(spark.createDataFrame(rows_, cols))
                except ValueError:
                    # all-null column(s) defeat type inference (e.g. :args
                    # maps binding a var to nil in every row) — type the
                    # null columns as string; null joins match nothing
                    # either way
                    non_null = {
                        i
                        for r in rows_
                        for i, v in enumerate(r)
                        if v is not None
                    }
                    schema_parts = []
                    for i, c in enumerate(cols):
                        if i in non_null:
                            sample = next(r[i] for r in rows_ if r[i] is not None)
                            t = {
                                bool: "boolean",
                                int: "bigint",
                                float: "double",
                                str: "string",
                            }.get(type(sample), "string")
                        else:
                            t = "string"
                        schema_parts.append(f"`{c}` {t}")
                    rels.append(
                        spark.createDataFrame(rows_, ", ".join(schema_parts))
                    )
        elif isinstance(spec, (list, tuple)):
            if len(set(spec)) != len(spec):
                raise ValueError(f"In binding variables not distinct: {spec!r}")
            for v, x in zip(spec, val):
                env[v] = x
        else:
            raise ValueError(f"bad :in spec {spec!r}")

    comp = Compiler(catalog, rules, env)
    # Set-semantics early-projection hint: the final result is
    # distinct'd exactly when there is no order/limit (vector semantics)
    # and no aggregate/pull (bag semantics feeding the aggregate /
    # struct assembly needing the entity var) — in that case the join
    # chain may drop existential vars early and dedup prefixes (see
    # join_all). :find must be all plain vars for the hint to be valid.
    _set_sem = (
        not (query.get("order-by") or query.get("order_by"))
        and query.get("limit") is None
        and query.get("offset") is None
        and all(is_var(el) for el in find)
    )
    df = comp.compile_clauses(
        where,
        extra_rels=rels,
        out_vars={el for el in find if is_var(el)} if _set_sem else None,
    )

    # a scalar :in arg is substituted into filters, never bound as a
    # column; if it appears in :find, project it back as a literal
    # (query_test.clj bug-247: the arg still constrains the query)
    for el in find:
        if is_var(el) and var_col(el) not in df.columns and el in env:
            df = df.withColumn(var_col(el), F.lit(env[el]))

    plain = [el for el in find if is_var(el)]
    aggs = [el for el in find if agg.is_agg_form(el)]
    pulls = [
        el
        for el in find
        if isinstance(el, (list, tuple)) and len(el) >= 3 and el[0] == "pull"
    ]
    if len(plain) + len(aggs) + len(pulls) != len(find):
        bad = [
            el
            for el in find
            if not (is_var(el) or agg.is_agg_form(el) or el in pulls)
        ]
        raise NotImplementedError(f"unsupported find elements: {bad!r}")
    if pulls and aggs:
        raise NotImplementedError("pull cannot be combined with aggregates")

    pull_aliases: dict[int, str] = {}
    if pulls:
        # pull in :find (query.clj:120-123, compiled via pull.clj) — struct
        # assembly joins attached per pulled entity var
        from crux_spark.datalog.pull import pull as _pull

        needed = [var_col(v) for v in plain] + [var_col(el[1]) for el in pulls]
        df = df.select(*dict.fromkeys(needed))
        for el in pulls:
            evar, spec = el[1], el[2]
            alias = el[3] if len(el) > 3 else f"pull_{var_col(evar)}"
            table = comp.entity_tables.get(evar)
            if table is None:
                raise ValueError(f"pull entity var {evar!r} not bound to a table")
            df = _pull(
                catalog,
                df,
                var_col(evar),
                table,
                spec,
                joins=query.get("pull-joins"),
                out_col=alias,
            )
            pull_aliases[id(el)] = alias

    bound = set(df.columns)
    for el in find:
        if is_var(el) and var_col(el) not in bound:
            raise ValueError(
                f"find var {el!r} is not bound by any where clause "
                f"(bound: {sorted('?' + c for c in bound)})"
            )

    out_cols: list[str] = []
    ord_cols: dict[str, str] = {}  # hidden typed-order sort columns
    if aggs:
        gcols = [var_col(v) for v in plain]
        agg_exprs = []
        alias_by_id = {}
        for el in aggs:
            e, alias, _v = agg.agg_expr(el)
            agg_exprs.append(e.alias(alias))
            alias_by_id[id(el)] = alias
        if not gcols:
            # GLOBAL aggregation over an empty relation is the EMPTY SET
            # in the reference (set-of-tuples semantics: no tuples -> no
            # groups), not SQL's single null/zero row — guard with a
            # count over the same pass and drop the empty-input row
            agg_exprs.append(F.count(F.lit(1)).alias("__n_in"))
            df = df.groupBy().agg(*agg_exprs).filter(F.col("__n_in") > 0)
        else:
            df = df.groupBy(*gcols).agg(*agg_exprs)
        for el in find:
            out_cols.append(var_col(el) if is_var(el) else alias_by_id[id(el)])
        df = df.select(*out_cols)
    else:
        out_cols = []
        for el in find:
            if is_var(el):
                out_cols.append(var_col(el))
            else:
                out_cols.append(pull_aliases[id(el)])
        # order-by over an EAV-bound value var sorts by the typed
        # total-order struct (codec.clj:81-99), not the stringified
        # value — carry the hidden __typed_ord column through the
        # projection; it is dropped again after the sort below
        if order_by:
            for item in order_by:
                name = item[0] if isinstance(item, (list, tuple)) else item
                oc = comp.typed_vars.get(name, {}).get("ord")
                if oc is not None and oc in df.columns and is_var(name):
                    ord_cols[var_col(name)] = oc
        df = df.select(*out_cols, *ord_cols.values())
        # set semantics: dedup unless ordered/limited (query.clj:1783).
        # Map-typed results can't participate in Spark set ops — dedup via
        # their JSON form instead (same value-equality, stable key order
        # within a build).
        if not (order_by or limit is not None or offset is not None):
            df = _dedup_map_safe(df)

    hidden_ord = ord_cols
    if keys:
        if hidden_ord:
            df = df.select(
                *[F.col(c).alias(k) for c, k in zip(out_cols, keys)],
                *hidden_ord.values(),
            )
        else:
            df = df.toDF(*keys)
        renames = dict(zip(out_cols, keys))
    else:
        renames = {}

    if order_by:
        sort_cols = []
        avail = set(df.columns)
        for item in order_by:
            name, direction = (item if isinstance(item, (list, tuple)) else (item, "asc"))
            col_name = var_col(name) if is_var(name) else name
            if col_name not in renames and col_name not in avail:
                # bug-418 semantics: ordering keys must be returned
                raise ValueError(
                    f"order-by requires an element from :find; "
                    f"unreturned element: {name!r}"
                )
            # EAV-bound vars sort by the typed total-order struct
            sort_key = hidden_ord.get(col_name, renames.get(col_name, col_name))
            if sort_key not in avail:
                raise ValueError(
                    f"order-by requires an element from :find; "
                    f"unreturned element: {name!r}"
                )
            sort_cols.append(F.col(sort_key).asc() if direction == "asc" else F.col(sort_key).desc())
        df = df.orderBy(*sort_cols)
        if hidden_ord:
            df = df.drop(*hidden_ord.values())
    if offset is not None:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


# The Datalog surface's one entry point. The eager set-vs-vector
# collection of the reference (query.clj:1781-1803) is left to the
# caller: `.collect()` the returned frame, or `q_eager` below for the
# reference's timeout-interrupted eager collection.
q = compile_query


DEFAULT_QUERY_TIMEOUT_MS = 30_000  # query.clj:2005-2007


class QueryTimeoutError(TimeoutError):
    pass


def run_cancellable(sc, query, fn, label: str):
    """``fn()`` on a runner thread under its own Spark job group, with the
    reference's timeout-interrupt semantics (query.clj:1786-1794): when the
    query's ``:timeout`` (ms, default 30s) elapses, the group's running
    jobs are cancelled and QueryTimeoutError is raised. Returns what
    ``fn`` returns and re-raises what it raises."""
    import threading
    import uuid

    timeout_ms = (
        query.get("timeout", DEFAULT_QUERY_TIMEOUT_MS)
        if isinstance(query, dict)
        else DEFAULT_QUERY_TIMEOUT_MS
    )
    group = f"crux-q-{uuid.uuid4().hex[:12]}"
    out: dict[str, Any] = {}

    def run():
        # job group is thread-local: set it in the runner so the cancel
        # below targets exactly this query's jobs
        sc.setJobGroup(group, label, interruptOnCancel=True)
        try:
            out["rows"] = fn()
        except Exception as e:  # surfaced by the caller below
            out["err"] = e
        finally:
            sc.setJobGroup("", "")

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout_ms / 1000.0)
    if th.is_alive():
        sc.cancelJobGroup(group)
        raise QueryTimeoutError(f"query exceeded timeout of {timeout_ms} ms")
    if "err" in out:
        raise out["err"]
    return out["rows"]


def q_eager(catalog: Catalog, query: dict, *args: Any) -> list:
    """Eager collection of a Datalog query, cancelled on ``:timeout``
    (see run_cancellable). Returns collected Rows; raises
    QueryTimeoutError on expiry."""
    df = compile_query(catalog, query, *args)
    return run_cancellable(
        catalog.spark.sparkContext, query, df.collect, "crux_spark datalog query"
    )
