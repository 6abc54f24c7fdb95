"""SPARQL -> Datalog compiler (subset).

The reference ships this in labs/crux-rdf/src/crux/sparql.clj: it parses
SPARQL with RDF4J and walks the algebra tree into the same Datalog the
query engine already runs — triple patterns, FILTER comparisons/regex,
OPTIONAL (LeftJoin -> get-attr), UNION, ORDER BY / LIMIT / OFFSET
(crux-test/test/crux/sparql_test.clj is the conformance suite; the WatDiv
bench drives it at scale, crux-bench/src/crux/bench/watdiv_crux.clj:130).

No RDF4J here: a self-contained tokenizer + recursive-descent parser for
the same subset, emitting the Python Datalog dict form `crux_spark.q`
takes. Predicate IRIs map to catalog attributes by local name (the same
convention `pivot_triples` uses for column names), overridable via
``attr_fn``.

Deliberate divergences from the reference (documented, not accidental):
- OPTIONAL binds missing values as NULL (the reference binds the
  sentinel :crux.sparql/optional, sparql.clj:139-152). NULL is the
  idiomatic Spark representation of an absent left-join value.
- FILTERs inside OPTIONAL keep unmatched rows (left-join semantics):
  the condition is rewritten to (or cond (nil? ?v)).
- MINUS compiles to a not-clause (left-anti on the shared variables —
  exactly SPARQL's "compatible solution" removal); when the MINUS
  pattern shares no variables with the group it removes nothing, per
  spec, and is dropped at parse time. (The reference raises instead,
  sparql.clj:62 — this is a superset.)
- ``p*`` compiles to an or-join of the ``p+`` transitive closure with
  the zero-length case (subject = object over the bound endpoint) —
  the reference's ZeroLengthPath + min-length handling
  (sparql.clj:257, 286-290). One endpoint must be bound.
- SPARQL 1.1 aggregates (COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT,
  COUNT DISTINCT, GROUP BY) are a SUPERSET of the reference (its translator has no
  aggregates): they map onto the Datalog find-aggregate surface, whose
  implicit grouping (query.clj:1504) equals SPARQL's GROUP BY keys —
  so the projected non-aggregate vars must BE the group vars. HAVING
  compiles to the Datalog subquery pred with relation binding (the
  grouped query nests inside [(q ...)], conditions become outer
  predicates; inline aggregates in HAVING allocate hidden aggregates).
  ASK compiles to the pattern projected to one var with LIMIT 1
  (sparql_ask returns the boolean).
- ``p1/p2`` sequence paths chain through fresh intermediate variables.
"""

from __future__ import annotations

import re
from typing import Any

_TOKEN_RE = re.compile(
    r"""
    \s+
  | \#[^\n]*                              # comment
  | (?P<iri><[^>\s]*>)
  | (?P<str>"[^"\\]*(?:\\.[^"\\]*)*")
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<num>-?[0-9]+(?:\.[0-9]+)?)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_\-]*:[A-Za-z0-9_\-\.]*)
  | (?P<kw>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<lang>@[A-Za-z][A-Za-z0-9\-]*)
  | (?P<op>\^\^|&&|\|\||!=|<=|>=|[{}()\[\].,;*=<>!a+\-/?^|])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "PREFIX", "SELECT", "DISTINCT", "WHERE", "FILTER", "OPTIONAL",
    "UNION", "ORDER", "BY", "ASC", "DESC", "LIMIT", "OFFSET", "REGEX",
    "NOT", "EXISTS", "MINUS", "A", "BIND", "AS", "VALUES", "IN",
    "SAMETERM", "STR", "STRLEN", "UCASE", "LCASE", "CONTAINS",
    "STRSTARTS", "STRENDS", "CONCAT", "BOUND",
    "COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP", "HAVING",
    "GROUP_CONCAT", "SAMPLE", "SEPARATOR", "ASK", "UNDEF", "CONSTRUCT",
    "DESCRIBE", "ABS", "CEIL", "FLOOR", "ROUND", "SUBSTR",
}

# SPARQL aggregate -> Datalog aggregate head (aggregates.py registry).
# A superset of the reference (labs sparql.clj translates no aggregates;
# SPARQL 1.1 group-aggregation rides the Datalog find-aggregate surface
# here, query.clj:1504's implicit grouping == SPARQL's GROUP BY keys).
# SAMPLE returns an arbitrary group member per spec — min is a legal,
# DETERMINISTIC choice (plain first()/any_value() would vary per run).
_AGG_FNS = {
    "COUNT": "count", "SUM": "sum", "AVG": "avg",
    "MIN": "min", "MAX": "max", "SAMPLE": "min",
    "GROUP_CONCAT": None,  # resolved per separator (see _group_concat)
}


def _group_concat_agg(sep: str) -> str:
    """Register a Datalog aggregate for GROUP_CONCAT with this separator
    and return its registry name. Values sort before concatenation — the
    spec leaves order undefined; sorted is the deterministic choice
    (oracle- and test-stable). Re-registering a separator replaces its
    aggregate with an identical one."""
    from pyspark.sql import functions as F

    from crux_spark.datalog.aggregates import register_aggregate

    name = "group-concat-" + sep.encode().hex()
    register_aggregate(
        name,
        lambda c, _s=sep: F.concat_ws(
            _s, F.sort_array(F.collect_list(c.cast("string")))
        ),
    )
    return name


def _decode_escapes(raw: str) -> str:
    """Decode SPARQL string escapes (\\n, \\t, \\uXXXX ...) without
    mangling non-ASCII characters: the naive
    ``s.encode().decode("unicode_escape")`` round-trips UTF-8 bytes
    back through latin-1, turning e.g. an em-dash separator into
    mojibake. Escaping non-latin1 chars to \\uXXXX first makes the
    unicode_escape pass restore them exactly."""
    return raw.encode("latin-1", "backslashreplace").decode("unicode_escape")

# SPARQL built-in call -> (datalog head, arity); the reference gets these
# through RDF4J's FunctionCall/SameTerm nodes (sparql.clj imports)
_FNS = {
    "SAMETERM": ("==", 2),
    "STR": ("str", 1),
    "STRLEN": ("count", 1),
    "UCASE": ("upper-case", 1),
    "LCASE": ("lower-case", 1),
    "CONTAINS": ("includes?", 2),
    "STRSTARTS": ("starts-with?", 2),
    "STRENDS": ("ends-with?", 2),
    "CONCAT": ("str", None),  # variadic; clojure str concatenates
    "BOUND": ("some?", 1),    # OPTIONAL vars bind NULL here, so
                              # BOUND(?x) = non-nil (sparql.clj Bound)
    # SPARQL 1.1 numerics (r14): map straight onto the clojure.core
    # allowlist heads
    "ABS": ("abs", 1),
    "CEIL": ("ceil", 1),
    "FLOOR": ("floor", 1),
    "ROUND": ("round", 1),
    # SUBSTR(s, start[, len]) is 1-based with optional length — exactly
    # the SQL "substring" dispatcher (variadic: 2 or 3 args)
    "SUBSTR": ("substring", None),
}


class _Tok:
    __slots__ = ("kind", "val")

    def __init__(self, kind: str, val: str):
        self.kind = kind
        self.val = val

    def __repr__(self):  # pragma: no cover
        return f"{self.kind}:{self.val}"


def _tokenize(text: str) -> list[_Tok]:
    out: list[_Tok] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"SPARQL tokenizer stuck at: {text[pos:pos+40]!r}")
        pos = m.end()
        if m.lastgroup is None:
            continue
        kind, val = m.lastgroup, m.group(m.lastgroup)
        if kind == "kw" and val.upper() in _KEYWORDS:
            out.append(_Tok("KW", val.upper()))
        elif kind == "op" and val == "a":  # rdf:type shorthand
            out.append(_Tok("KW", "A"))
        else:
            out.append(_Tok(kind, val))
    return out


def local_name(iri: str) -> str:
    """IRI -> catalog attribute local name (pivot_triples convention)."""
    return iri.split("/")[-1].split("#")[-1]


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# marker for an UNDEF cell in a VALUES row (never leaks into the IR)
_UNDEF = object()
# head of the deferred VALUES-with-UNDEF marker clause; resolved by
# _resolve_values_markers once the full pattern's vars are known
_VALUES_UNDEF = "__values-undef__"


def _expand_values_undef(vars_: list, rows: list, bound: set) -> list:
    """Resolve one VALUES-with-UNDEF block against the vars the rest of
    the pattern binds. All vars bound elsewhere -> disjunctive equality
    FILTER (UNDEF cells constrain nothing; an all-UNDEF row makes the
    whole VALUES a no-op). No var bound elsewhere -> relation binding
    with NULL cells (VALUES introduces the bindings; UNDEF stays
    unbound/NULL, the reference's ::undefined :args mapping,
    sparql.clj:266-274). Mixed -> NotImplementedError (would need a
    NULL-tolerant compatibility join)."""
    flags = [v in bound for v in vars_]
    if all(flags):
        branches = []
        for row in rows:
            conj = [["==", v, c] for v, c in zip(vars_, row)
                    if c is not _UNDEF]
            if not conj:
                return []  # all-UNDEF row -> compatible with everything
            branches.append(conj[0] if len(conj) == 1 else ["and", *conj])
        expr = branches[0] if len(branches) == 1 else ["or", *branches]
        return [[expr]]
    if not any(flags):
        cells = [[None if c is _UNDEF else c for c in r] for r in rows]
        if len(vars_) == 1:
            return [[["vector", *[r[0] for r in cells]],
                     [vars_[0], "..."]]]
        return [[["vector", *[["vector", *r] for r in cells]], [vars_]]]
    raise NotImplementedError(
        "VALUES with UNDEF where some vars are bound by the pattern and "
        f"others are not ({vars_}) is out of subset — split the VALUES "
        "or bind all its vars in the pattern"
    )


def _assert_no_values_marker(form) -> None:
    if isinstance(form, list):
        if form and form[0] == _VALUES_UNDEF:
            raise NotImplementedError(
                "VALUES with UNDEF inside a UNION/OPTIONAL branch is "
                "out of subset — lift it to the enclosing group"
            )
        for x in form:
            _assert_no_values_marker(x)


def _resolve_values_markers(clauses: list) -> list:
    """Rewrite top-level VALUES-with-UNDEF marker clauses now that the
    whole clause list is known (called after WHERE parses and again for
    the trailing ValuesClause)."""
    def is_marker(c):
        return isinstance(c, list) and bool(c) and c[0] == _VALUES_UNDEF

    pattern_vars: list[str] = []
    if any(is_marker(c) for c in clauses):
        _collect_vars([c for c in clauses if not is_marker(c)],
                      pattern_vars)
    out: list = []
    for c in clauses:
        if is_marker(c):
            out.extend(_expand_values_undef(c[1], c[2], set(pattern_vars)))
        else:
            _assert_no_values_marker(c)  # nested in UNION/OPTIONAL
            out.append(c)
    return out


class _Parser:
    def __init__(self, toks: list[_Tok], attr_fn):
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.attr_fn = attr_fn
        # attrs needing a transitive-closure rule (property path `p+`,
        # the reference's ArbitraryLengthPath -> <pred>-PLUS rule head,
        # sparql.clj:21-28); rule defs are generated at query() time
        self.plus_attrs: set[str] = set()
        # `?p+` over a VARIABLE predicate: one shared 3-ary rule over the
        # EAV fallback scan, closure per predicate binding (the reference
        # compiles RDF4J's ArbitraryLengthPath generally, sparql.clj:21-28)
        self.var_plus = False
        # negated property sets !p / !(p1|p2): fresh hidden attr var ->
        # the banned attribute names (emitted as != filters beside the
        # var-attr EAV scan)
        # parse-time marker var -> (banned_forward, banned_inverse)
        # predicate lists for negated property sets. The marker NEVER
        # reaches the compiled clauses: _emit_edge remaps it to a fresh
        # hidden var per emitted edge (an object list `?s !p ?o1, ?o2`
        # is two INDEPENDENT patterns — sharing the var would spuriously
        # require both edges to ride the same predicate).
        self._neg_sets: dict[str, tuple[list[str], list[str]]] = {}
        # parenthesized path groups with modifiers (r15): generated
        # one-traversal rule defs, the subset needing -PLUS closure
        # rules, and the per-parsed-group memo (id(alts) -> rule name)
        self.group_rules: list = []
        self.group_plus: set[str] = set()
        self._group_rule_names: dict[int, str] = {}

    # -- token plumbing ---------------------------------------------------

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of SPARQL input")
        self.i += 1
        return t

    def at(self, kind: str, val: str | None = None) -> bool:
        t = self.peek()
        return t is not None and t.kind == kind and (val is None or t.val == val)

    def eat(self, kind: str, val: str | None = None) -> _Tok:
        if not self.at(kind, val):
            raise ValueError(f"expected {val or kind}, got {self.peek()!r}")
        return self.next()

    # -- terms ------------------------------------------------------------

    def expand(self, pname: str) -> str:
        pre, _, local = pname.partition(":")
        if pre not in self.prefixes:
            raise ValueError(f"unknown prefix {pre!r} in {pname!r}")
        return self.prefixes[pre] + local

    _anon_counter = 0

    def term(self) -> Any:
        t = self.next()
        if t.kind == "var":
            return t.val
        if t.kind == "op" and t.val == "[":
            # [] — anonymous blank node = fresh variable (the reference's
            # RDF4J parse yields _anon_N vars, sparql_test.clj UNION case)
            self.eat("op", "]")
            _Parser._anon_counter += 1
            return f"?__anon{_Parser._anon_counter}"
        if t.kind == "iri":
            return t.val[1:-1]
        if t.kind == "pname":
            return self.expand(t.val)
        if t.kind == "str":
            s = t.val[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            if self.at("op", "^^"):  # typed literal
                self.next()
                dt = self.next()  # iri or pname
                dtype = dt.val[1:-1] if dt.kind == "iri" else self.expand(dt.val)
                ln = local_name(dtype)
                if ln in ("integer", "int", "long", "short", "byte"):
                    return int(s)
                if ln in ("double", "float", "decimal"):
                    return float(s)
            elif self.at("lang"):
                # language-tagged literal: the tag is dropped, matching
                # the reference's rdf->clj (\"cat\"@en matches "cat")
                self.next()
            return s
        if t.kind == "num":
            return float(t.val) if "." in t.val else int(t.val)
        if t.kind == "KW" and t.val == "A":
            return _RDF_TYPE
        raise ValueError(f"bad term {t!r}")

    # -- where clauses ----------------------------------------------------

    def group(self) -> list:
        """Parse a { } group body into a list of Datalog clauses."""
        clauses: list = []
        while not self.at("op", "}"):
            if self.at("op", "."):
                self.next()
                continue
            if self.at("KW", "FILTER"):
                self.next()
                clauses.extend(self.filter_clause())
            elif self.at("KW", "OPTIONAL"):
                self.next()
                self.eat("op", "{")
                clauses.extend(self.optional_group())
            elif self.at("KW", "MINUS"):
                self.next()
                self.eat("op", "{")
                inner = self.group()
                outer_vars: list[str] = []
                _collect_vars(clauses, outer_vars)
                inner_vars: list[str] = []
                _collect_vars(inner, inner_vars)
                if set(outer_vars) & set(inner_vars):
                    # remove solutions compatible with the MINUS pattern:
                    # left-anti on the shared vars (apply_not's semantics)
                    clauses.append(["not", *inner])
                # else: no shared variables -> solutions are never
                # "compatible", MINUS removes nothing (SPARQL 1.1 §8.3)
            elif self.at("KW", "BIND"):
                # BIND(expr AS ?v) -> predicate clause with return
                # binding (the reference's Extension/ExtensionElem)
                self.next()
                self.eat("op", "(")
                expr = self.or_expr()
                self.eat("KW", "AS")
                v = self.eat("var").val
                self.eat("op", ")")
                clauses.append([expr, v])
            elif self.at("KW", "VALUES"):
                self.next()
                vb = self.values_block()
                if vb:
                    clauses.append(vb)
            elif self.at("op", "{"):
                nxt = (self.toks[self.i + 1]
                       if self.i + 1 < len(self.toks) else None)
                if nxt is not None and nxt.kind == "KW" and nxt.val == "SELECT":
                    clauses.append(self.subselect())
                else:
                    clauses.append(self.union_block())
            else:
                clauses.extend(self.triple_block())
        self.eat("op", "}")
        return clauses

    def values_block(self) -> list:
        """VALUES ?x { v... } / VALUES (?x ?y) { (a b) ... } -> a literal
        collection/relation binding clause (the reference's
        BindingSetAssignment). Rows containing UNDEF parse to a DEFERRED
        marker clause resolved once the whole pattern is known
        (_resolve_values_markers): if every VALUES var is bound
        elsewhere, the rows compile to a disjunctive equality FILTER
        over the defined cells (an UNDEF cell constrains nothing); if
        NO var is bound elsewhere, the rows compile to the relation-
        binding form with NULL cells for UNDEF — VALUES that INTRODUCES
        bindings works, matching the reference's ::undefined :args
        mapping (sparql.clj:266-274). The mixed case is a clear
        NotImplementedError instead of a silent wrong answer."""
        if self.at("var"):
            v = self.next().val
            self.eat("op", "{")
            cells = []
            while not self.at("op", "}"):
                if self.at("KW", "UNDEF"):
                    self.next()
                    cells.append(_UNDEF)
                else:
                    cells.append(self.term())
            self.next()
            if any(c is _UNDEF for c in cells):
                return [_VALUES_UNDEF, [v], [[c] for c in cells]]
            return [["vector", *cells], [v, "..."]]
        self.eat("op", "(")
        vars_ = []
        while self.at("var"):
            vars_.append(self.next().val)
        self.eat("op", ")")
        self.eat("op", "{")
        rows = []
        any_undef = False
        while self.at("op", "("):
            self.next()
            row = []
            while not self.at("op", ")"):
                if self.at("KW", "UNDEF"):
                    self.next()
                    row.append(_UNDEF)
                    any_undef = True
                else:
                    row.append(self.term())
            self.next()
            rows.append(row)
        self.eat("op", "}")
        if not any_undef:
            return [["vector", *[["vector", *r] for r in rows]], [vars_]]
        return [_VALUES_UNDEF, vars_, rows]

    def subselect(self) -> list:
        """SPARQL 1.1 subquery: { SELECT ... WHERE {...} [GROUP BY/
        HAVING/ORDER/LIMIT/OFFSET] } inside a group pattern. Compiles to
        the Datalog subquery pred with relation binding (query.clj:
        973-986, the same seam HAVING rides): the inner query's find
        columns bind outer vars of the same names, so shared vars
        equi-join with the enclosing pattern — SPARQL's bottom-up
        subquery-join semantics."""
        self.eat("op", "{")
        depth = 1
        start = self.i
        j = self.i
        while j < len(self.toks):
            t = self.toks[j]
            if t.kind == "op" and t.val == "{":
                depth += 1
            elif t.kind == "op" and t.val == "}":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError("unterminated subquery group")
        sub = _Parser(self.toks[start:j], self.attr_fn)
        sub.prefixes.update(self.prefixes)  # outer PREFIXes are in scope
        d = sub.query()
        self.i = j + 1  # past the closing '}'
        bind_vars = [
            e if isinstance(e, str) else f"?{e[2]}" for e in d["find"]
        ]
        return [["q", d], [bind_vars]]

    def union_block(self) -> list:
        branches = []
        self.eat("op", "{")
        branches.append(self.group())
        while self.at("KW", "UNION"):
            self.next()
            self.eat("op", "{")
            branches.append(self.group())
        if len(branches) == 1:
            # plain grouping, not a union
            inner = branches[0]
            return inner[0] if len(inner) == 1 else ["and", *inner]
        wrapped = [
            b[0] if len(b) == 1 else ["and", *b] for b in branches
        ]
        return ["or", *wrapped]

    _seq_counter = 0

    def _negated_pred(self) -> tuple[str, bool]:
        """One member of a negated property set: `p` or `^p` (SPARQL 1.1
        §9.1 allows inverse members; the reference gets this free from
        RDF4J's algebra). Returns (":attr", is_inverse)."""
        inverse = False
        if self.at("op", "^"):
            self.next()
            inverse = True
        if self.at("KW", "A"):
            self.next()
            return ":" + self.attr_fn(_RDF_TYPE), inverse
        return ":" + self.attr_fn(self.term()), inverse

    def _pred_and_path(self) -> tuple[Any, str | None]:
        inverse = False
        if self.at("op", "^"):
            # SPARQL 1.1 inverse path ^p: traverse the edge object ->
            # subject (RDF4J gives the reference this via its algebra;
            # here the step just swaps endpoints at emit time)
            self.next()
            inverse = True
        if self.at("op", "("):
            # parenthesized path group (SPARQL 1.1 PathPrimary):
            # alternatives of sequences, with an optional modifier on
            # the whole group — (p1/p2)+, (p|q)*, ^(p/q)? ... (r15; the
            # reference gets grouped paths from RDF4J's algebra). The
            # group is a marker tuple dispatched by _emit_edge; a
            # modified group compiles through a generated rule so the
            # closure runs over the COMPOSITE traversal.
            self.next()
            alts = [self._path_sequence()]
            while self.at("op", "|"):
                self.next()
                alts.append(self._path_sequence())
            self.eat("op", ")")
            attr: Any = ("group", alts)
        elif self.at("op", "!"):
            # negated property set: any predicate EXCEPT the listed ones
            # — a fresh hidden attr var over the EAV var-attr scan, with
            # != filters emitted beside the edge
            self.next()
            members = []
            if self.at("op", "("):
                self.next()
                members.append(self._negated_pred())
                while self.at("op", "|"):
                    self.next()
                    members.append(self._negated_pred())
                self.eat("op", ")")
            else:
                members.append(self._negated_pred())
            banned_fwd = [a for a, inv in members if not inv]
            banned_inv = [a for a, inv in members if inv]
            _Parser._seq_counter += 1
            attr = f"?__np{_Parser._seq_counter}"
            self._neg_sets[attr] = (banned_fwd, banned_inv)
        else:
            p = self.term()
            # variable predicate -> EAV fallback pattern [?e ?a ?v]
            attr = (p if (isinstance(p, str) and p.startswith("?"))
                    else ":" + self.attr_fn(p))
        path = None
        if self.at("op", "+"):
            self.next()
            path = "PLUS"
        elif self.at("op", "*"):
            self.next()
            path = "STAR"
        elif self.at("op", "?"):
            self.next()
            path = "OPT"  # zero-or-one (the reference's ZeroLengthPath
            # union with a single step, labs sparql_test.clj knows?)
        if path is not None and isinstance(attr, str) and attr in self._neg_sets:
            # a MODIFIED negated set (!p+, !(p|^q)*): wrap as a
            # single-step group so the closure rule traverses the
            # complement edge, not a var-predicate closure
            attr = ("group", [[(attr, None, False)]])
        return attr, path, inverse

    def _emit_edge(self, clauses: list, s, attr, path: str | None, o,
                   inverse: bool = False):
        if inverse:
            s, o = o, s
        if isinstance(attr, tuple) and attr[0] == "group":
            self._emit_group(clauses, s, attr[1], path, o)
            return
        if path is None:
            neg = self._neg_sets.get(attr)
            if neg is not None:  # !p / !(p1|^p2|...)
                self._emit_negated_set(clauses, s, neg, o)
                return
            clauses.append([s, attr, o])
            return
        if attr.startswith("?"):
            if path == "OPT":
                # zero-or-one: ONE EAV step instead of the closure rule
                plus = [s, attr, o]
            else:
                # variable predicate: closure is computed per ?p binding
                # by a shared rule carrying the predicate as an argument
                self.var_plus = True
                plus = ["__varpred-PLUS", attr, s, o]
            if path == "PLUS":
                clauses.append(plus)
                return
            # ?p* = ?p+ UNION the zero-length path, generalized per
            # predicate: for EVERY predicate p in the data, p* contains
            # all (x, x) pairs over the binding domain plus p's closure
            # (the reference routes this through RDF4J's ZeroLengthPath
            # with a path variable, sparql.clj:257; the zero-length
            # branch ranges ?p over the EAV predicate domain so the
            # or-join branches bind the same vars)
            _Parser._seq_counter += 1
            c = _Parser._seq_counter
            dom = [f"?__zl{c}s", attr, f"?__zl{c}o"]
            s_var = isinstance(s, str) and s.startswith("?")
            o_var = isinstance(o, str) and o.startswith("?")
            if not s_var and not o_var:
                if s == o:
                    # zero-length trivially holds; ?p still ranges over
                    # every predicate present in the data
                    clauses.append(dom)
                else:
                    clauses.append(plus)
                return
            jv = [attr] + [v for v, isv in ((s, s_var), (o, o_var)) if isv]
            if s_var and o_var:
                # BOTH endpoints variable: the zero-length path binds
                # s = o over the graph's term domain (RDF4J
                # ZeroLengthPath semantics — subjects ∪ objects), not
                # from an outside binding that may not exist. Two
                # branches: s ranges over domain subjects, and over
                # domain objects; or-join set-union dedups terms that
                # appear as both.
                zero_s = [
                    "and", dom,
                    [["identity", f"?__zl{c}s"], s],
                    [["identity", s], o],
                ]
                zero_o = [
                    "and", dom,
                    [["identity", f"?__zl{c}o"], s],
                    [["identity", s], o],
                ]
                clauses.append(
                    ["or-join", jv, ["and", plus], zero_s, zero_o]
                )
                return
            zero = (
                ["and", dom, [["identity", o], s]]
                if (s_var and not o_var)
                else ["and", dom, [["identity", s], o]]
            )
            clauses.append(["or-join", jv, ["and", plus], zero])
            return
        if path == "OPT":
            # p? = zero-or-one: the single edge unioned with the
            # zero-length path — no closure rule needed
            plus = [s, attr, o]
        else:
            self.plus_attrs.add(attr)
            plus = [f"{attr[1:]}-PLUS", s, o]
        if path == "PLUS":
            clauses.append(plus)
            return
        # p* = p+ UNION the zero-length path. The zero-length case binds
        # one endpoint from the other over the query's binding domain —
        # the reference's ZeroLengthPath with min-length 0
        # (sparql.clj:257, 286-290). Requires a bound endpoint, like the
        # reference requires a constrained domain.
        s_var = isinstance(s, str) and s.startswith("?")
        o_var = isinstance(o, str) and o.startswith("?")
        jv = [v for v, isv in ((s, s_var), (o, o_var)) if isv]
        if not jv:
            # both endpoints constant: zero-length holds iff s == o, in
            # which case the whole pattern is trivially true — otherwise
            # only the transitive closure can satisfy it
            if s != o:
                clauses.append(plus)
            return
        zero = (
            ["and", [["identity", o], s]]
            if (s_var and not o_var)
            else ["and", [["identity", s], o]]
        )
        clauses.append(["or-join", jv, ["and", plus], zero])

    def _emit_group(self, clauses: list, s, alts: list, path, o) -> None:
        """Emit one edge of a parenthesized path group (r15). Unmodified
        groups inline (single alternative) or or-join on the endpoint
        vars; a MODIFIED group compiles through a generated one-
        traversal rule (memoized per parsed group — rule invocations
        are relation joins, so object-list re-emissions stay
        independent) so PLUS/STAR close over the COMPOSITE traversal
        via the semi-naive fixpoint, exactly like single-attr closures
        (compile.py _fixpoint_group)."""
        if path is None:
            if len(alts) == 1:
                self._emit_sequence(clauses, s, alts[0], o)
                return
            jv = [v for v in (s, o)
                  if isinstance(v, str) and v.startswith("?")]
            branches = []
            for steps in alts:
                bc: list = []
                self._emit_sequence(bc, s, steps, o)
                branches.append(bc[0] if len(bc) == 1 else ["and", *bc])
            clauses.append(["or-join", jv, *branches]
                           if jv else ["or", *branches])
            return
        rule = self._group_rule(alts)
        if path == "OPT":
            plus = [rule, s, o]  # one traversal, no closure
        else:
            self.group_plus.add(rule)
            plus = [f"{rule}-PLUS", s, o]
        if path == "PLUS":
            clauses.append(plus)
            return
        # (p...)* / (p...)? = traversal UNION the zero-length path —
        # the same bound-endpoint logic as single-attr p* above
        s_var = isinstance(s, str) and s.startswith("?")
        o_var = isinstance(o, str) and o.startswith("?")
        jv = [v for v, isv in ((s, s_var), (o, o_var)) if isv]
        if not jv:
            if s != o:
                clauses.append(plus)
            return
        zero = (
            ["and", [["identity", o], s]]
            if (s_var and not o_var)
            else ["and", [["identity", s], o]]
        )
        clauses.append(["or-join", jv, ["and", plus], zero])

    def _build_rules(self) -> list:
        """Rule definitions for every closure this query needs: the
        shared variable-predicate rule, per-attr -PLUS pairs, and (r15)
        the generated group-traversal rules + their -PLUS pairs."""
        rules: list = []
        if self.var_plus:
            # shared transitive-closure rule over the EAV scan, with
            # the predicate as the leading rule argument — the join on
            # ?__pa keeps each predicate's closure separate
            rules.append(
                [
                    ["__varpred-PLUS", "?__pa", "?__px", "?__py"],
                    ["?__px", "?__pa", "?__py"],
                ]
            )
            rules.append(
                [
                    ["__varpred-PLUS", "?__pa", "?__px", "?__py"],
                    ["?__px", "?__pa", "?__pz"],
                    ["__varpred-PLUS", "?__pa", "?__pz", "?__py"],
                ]
            )
        for attr in sorted(self.plus_attrs):
            rule = f"{attr[1:]}-PLUS"
            rules.append(
                [[rule, "?__px", "?__py"], ["?__px", attr, "?__py"]]
            )
            rules.append(
                [
                    [rule, "?__px", "?__py"],
                    ["?__px", attr, "?__pz"],
                    [rule, "?__pz", "?__py"],
                ]
            )
        rules.extend(self.group_rules)
        for name in sorted(self.group_plus):
            rules.append(
                [[f"{name}-PLUS", "?__px", "?__py"],
                 [name, "?__px", "?__py"]]
            )
            rules.append(
                [
                    [f"{name}-PLUS", "?__px", "?__py"],
                    [name, "?__px", "?__pz"],
                    [f"{name}-PLUS", "?__pz", "?__py"],
                ]
            )
        return rules

    def _group_rule(self, alts: list) -> str:
        """Define (once per parsed group) the rule computing ONE
        traversal of the group path; returns the rule name."""
        key = id(alts)
        got = self._group_rule_names.get(key)
        if got:
            return got
        _Parser._seq_counter += 1
        c = _Parser._seq_counter
        name, x, y = f"__grp{c}", f"?__g{c}x", f"?__g{c}y"
        branches = []
        for steps in alts:
            bc: list = []
            self._emit_sequence(bc, x, steps, y)
            branches.append(bc)
        if len(branches) == 1:
            body = branches[0]
        else:
            wrapped = [b[0] if len(b) == 1 else ["and", *b]
                       for b in branches]
            body = [["or-join", [x, y], *wrapped]]
        self.group_rules.append([[name, x, y], *body])
        self._group_rule_names[key] = name
        return name

    def _emit_negated_set(self, clauses: list, s, neg, o) -> None:
        """Emit ONE edge of a negated property set (SPARQL 1.1 §9.1).
        A FRESH hidden attr var is allocated per emitted edge — object
        lists (`?s !p ?o1, ?o2`) and ';'-continuations re-emit the same
        parsed step as INDEPENDENT patterns, so sharing the parse-time
        var would spuriously join the edges on their predicate.
        Forward members ban predicates on the (s, a, o) var-attr EAV
        scan; inverse members (`^q`) ban predicates on the swapped
        (o, a, s) scan; with both kinds present the two complement
        scans union via an or-join on the endpoint vars — the
        reference gets the same algebra from RDF4J (sparql.clj)."""
        banned_fwd, banned_inv = neg

        def branch(src, dst, banned):
            _Parser._seq_counter += 1
            a = f"?__np{_Parser._seq_counter}"
            return [[src, a, dst]] + [[["!=", a, b]] for b in banned]

        if banned_fwd and banned_inv:
            jv = [v for v in (s, o)
                  if isinstance(v, str) and v.startswith("?")]
            branches = [
                c[0] if len(c) == 1 else ["and", *c]
                for c in (branch(s, o, banned_fwd),
                          branch(o, s, banned_inv))
            ]
            clauses.append(["or-join", jv, *branches]
                           if jv else ["or", *branches])
        elif banned_inv:
            clauses.extend(branch(o, s, banned_inv))
        else:
            clauses.extend(branch(s, o, banned_fwd))

    def _path_sequence(self) -> list:
        """One PathSequence: step ('/' step)*, steps = (attr, path, inv)."""
        steps = [self._pred_and_path()]
        while self.at("op", "/"):
            self.next()
            steps.append(self._pred_and_path())
        return steps

    def _emit_sequence(self, clauses: list, s, steps: list, o) -> None:
        src = s
        for attr, path, inv in steps[:-1]:
            _Parser._seq_counter += 1
            mid = f"?__seq{_Parser._seq_counter}"
            self._emit_edge(clauses, src, attr, path, mid, inv)
            src = mid
        attr, path, inv = steps[-1]
        self._emit_edge(clauses, src, attr, path, o, inv)

    def triple_block(self) -> list:
        """subject predicate object (',' object)* (';' pred obj...)*
        with property paths: p+ / p* / p? / ^p / p1/p2 sequences /
        p1|p2 alternatives (SPARQL 1.1 PathAlternative: alternatives of
        sequences — each branch emits with fresh intermediates into an
        or-join on the endpoint vars)."""
        clauses = []
        s = self.term()
        while True:
            alts = [self._path_sequence()]
            while self.at("op", "|"):  # alternative path p1|p2
                self.next()
                alts.append(self._path_sequence())
            while True:
                o = self.term()
                if len(alts) == 1:
                    self._emit_sequence(clauses, s, alts[0], o)
                else:
                    jv = [v for v in (s, o)
                          if isinstance(v, str) and v.startswith("?")]
                    branches = []
                    for steps in alts:
                        bc: list = []
                        self._emit_sequence(bc, s, steps, o)
                        branches.append(bc[0] if len(bc) == 1
                                        else ["and", *bc])
                    clauses.append(
                        ["or-join", jv, *branches] if jv
                        else ["or", *branches]
                    )
                if self.at("op", ","):
                    self.next()
                    continue
                break
            if self.at("op", ";"):
                self.next()
                if self.at("op", ".") or self.at("op", "}"):
                    break  # trailing ';'
                continue
            break
        return clauses

    def optional_group(self) -> list:
        """OPTIONAL { triples... filters... } -> get-attr bindings with
        filters rewritten to keep unmatched (NULL) rows."""
        clauses: list = []
        opt_vars: list[str] = []
        filters: list = []
        while not self.at("op", "}"):
            if self.at("op", "."):
                self.next()
                continue
            if self.at("KW", "FILTER"):
                self.next()
                filters.extend(self.filter_clause())
                continue
            for (s, attr, o) in self.triple_block():
                if not (isinstance(o, str) and o.startswith("?")):
                    raise NotImplementedError(
                        "OPTIONAL objects must be variables"
                    )
                clauses.append([["get-attr", s, attr], o])
                opt_vars.append(o)
        self.eat("op", "}")
        for f in filters:
            cond = f[0]
            touched = [v for v in opt_vars if _mentions(cond, v)]
            if touched:
                cond = ["or", cond, *[["nil?", v] for v in touched]]
            clauses.append([cond])
        return clauses

    def filter_clause(self) -> list:
        if self.at("KW", "NOT"):
            self.next()
            self.eat("KW", "EXISTS")
            self.eat("op", "{")
            inner = self.group()
            return [["not", *inner]]
        if self.at("KW", "EXISTS"):
            self.next()
            self.eat("op", "{")
            # set semantics make an EXISTS semi-join equivalent to
            # inlining its pattern
            return self.group()
        paren = self.at("op", "(")
        if paren:
            self.next()
        expr = self.or_expr()
        if paren:
            self.eat("op", ")")
        # split top-level conjunctions into separate clauses (each is a
        # separately pushable filter)
        parts = expr[1:] if isinstance(expr, list) and expr[0] == "and" else [expr]
        return [[p] for p in parts]

    # FILTER expression grammar: or <- and <- cmp <- add <- primary
    def or_expr(self):
        left = self.and_expr()
        while self.at("op", "||"):
            self.next()
            left = ["or", left, self.and_expr()]
        return left

    def and_expr(self):
        left = self.cmp_expr()
        while self.at("op", "&&"):
            self.next()
            left = ["and", left, self.cmp_expr()]
        return left

    _CMP = {"=", "!=", "<", "<=", ">", ">="}

    def cmp_expr(self):
        left = self.add_expr()
        t = self.peek()
        if t and t.kind == "op" and t.val in self._CMP:
            self.next()
            right = self.add_expr()
            return [t.val if t.val != "=" else "==", left, right]
        # ?x IN (a, b) / ?x NOT IN (a, b) — the reference's
        # ListMemberOperator
        if self.at("KW", "IN"):
            self.next()
            return ["contains?", ["hash-set", *self._in_list()], left]
        if self.at("KW", "NOT") and not (
            self.i + 1 < len(self.toks)
            and self.toks[self.i + 1].kind == "KW"
            and self.toks[self.i + 1].val == "EXISTS"
        ):
            self.next()
            self.eat("KW", "IN")
            return ["not", ["contains?", ["hash-set", *self._in_list()], left]]
        return left

    def _in_list(self) -> list:
        self.eat("op", "(")
        vals = []
        while not self.at("op", ")"):
            if self.at("op", ","):
                self.next()
                continue
            vals.append(self.term())
        self.next()
        return vals

    def add_expr(self):
        left = self.mul_expr()
        while self.at("op", "+") or self.at("op", "-"):
            op = self.next().val
            left = [op, left, self.mul_expr()]
        return left

    def mul_expr(self):
        left = self.primary()
        while self.at("op", "*") or self.at("op", "/"):
            op = self.next().val
            left = [op, left, self.primary()]
        return left

    def primary(self):
        if getattr(self, "_in_having", False) and self.peek() is not None \
                and self.peek().kind == "KW" and self.peek().val in _AGG_FNS:
            # inline aggregate inside HAVING (COUNT(?y) > 3): allocate a
            # hidden aggregate on the inner (grouped) query and reference
            # its alias var here
            fn = self.next().val
            self.eat("op", "(")
            distinct = False
            if self.at("KW", "DISTINCT"):
                self.next()
                distinct = True
            if fn == "COUNT" and self.at("op", "*"):
                self.next()
                arg = None
            else:
                arg = self.eat("var").val
            sep = " "
            if fn == "GROUP_CONCAT" and self.at("op", ";"):
                self.next()
                self.eat("KW", "SEPARATOR")
                self.eat("op", "=")
                raw = self.eat("str").val
                sep = _decode_escapes(raw[1:-1])
            self.eat("op", ")")
            head = (_group_concat_agg(sep)
                    if fn == "GROUP_CONCAT" else _AGG_FNS[fn])
            if distinct:
                if fn != "COUNT":
                    raise ValueError(f"DISTINCT inside {fn} not supported")
                head = "count-distinct"
            name = f"__h{len(self._having_hidden)}"
            self._having_hidden.append([head, arg, name])
            return f"?{name}"
        if self.at("KW", "REGEX"):
            self.next()
            self.eat("op", "(")
            v = self.term()
            self.eat("op", ",")
            pat = self.term()
            flags = ""
            if self.at("op", ","):
                self.next()
                flags = self.term()
            self.eat("op", ")")
            if "i" in flags:
                pat = "(?i)" + pat
            return ["re-find", pat, v]
        t = self.peek()
        if t is not None and t.kind == "KW" and t.val in _FNS:
            head, arity = _FNS[self.next().val]
            self.eat("op", "(")
            args = [self.or_expr()]
            if arity is None:  # variadic (CONCAT)
                while self.at("op", ","):
                    self.next()
                    args.append(self.or_expr())
            else:
                for _ in range(arity - 1):
                    self.eat("op", ",")
                    args.append(self.or_expr())
            self.eat("op", ")")
            return [head, *args]
        if self.at("op", "("):
            self.next()
            e = self.or_expr()
            self.eat("op", ")")
            return e
        if self.at("op", "!"):
            self.next()
            return ["not", self.primary()]
        return self.term()

    # -- top level --------------------------------------------------------

    def query(self) -> dict:
        while self.at("KW", "PREFIX"):
            self.next()
            pname = self.eat("pname").val
            iri = self.eat("iri").val[1:-1]
            self.prefixes[pname[:-1] if pname.endswith(":") else pname.split(":")[0]] = iri
        is_ask = False
        construct_tmpl: list | None = None
        if self.at("KW", "DESCRIBE"):
            # DESCRIBE VarOrIri+ [WHERE { ... }] — returns the concise
            # bounded description of the named/bound resources as
            # (s, p, o) triples (sparql_describe() runs it). DESCRIBE *
            # is out of subset. The reference's protocol surface
            # (crux.sparql.protocol) is SELECT-shaped — superset here.
            self.next()
            targets: list = []
            while True:
                if self.at("var"):
                    targets.append(self.next().val)
                elif self.at("iri") or self.at("pname"):
                    targets.append(self.term())
                else:
                    break
            if not targets:
                raise NotImplementedError(
                    "DESCRIBE needs explicit resources or variables "
                    "(DESCRIBE * is out of subset)")
            dwhere: list = []
            if self.at("KW", "WHERE") or self.at("op", "{"):
                if self.at("KW", "WHERE"):
                    self.next()
                self.eat("op", "{")
                dwhere = _resolve_values_markers(self.group())
            for t in targets:
                if (isinstance(t, str) and t.startswith("?")
                        and not _mentions(dwhere, t)):
                    raise ValueError(
                        f"DESCRIBE variable {t} is not bound by the "
                        "WHERE pattern")
            if self.peek() is not None:
                raise ValueError(
                    f"trailing SPARQL input at {self.peek()!r}")
            out = {"describe": targets, "where": dwhere}
            drules = self._build_rules()
            if drules:
                out["rules"] = drules
            return out
        if self.at("KW", "ASK"):
            self.next()
            is_ask = True
        elif self.at("KW", "CONSTRUCT"):
            # CONSTRUCT { template } WHERE { ... } — the template is
            # plain triples (vars/IRIs/literals; property paths and
            # negated sets are out of subset in the template). Compiles
            # to a SELECT of the template's vars; sparql_construct()
            # instantiates the template per solution and unions.
            self.next()
            self.eat("op", "{")
            construct_tmpl = []
            while not self.at("op", "}"):
                if self.at("op", "."):
                    self.next()
                    continue
                for c in self.triple_block():
                    if not (isinstance(c, list) and len(c) == 3
                            and all(not isinstance(x, list) for x in c)):
                        raise NotImplementedError(
                            "CONSTRUCT templates take plain triples only "
                            "(no property paths / negated sets)")
                    construct_tmpl.append(c)
            self.eat("op", "}")
            if not construct_tmpl:
                raise ValueError("empty CONSTRUCT template")
        else:
            self.eat("KW", "SELECT")
        if self.at("KW", "DISTINCT"):
            self.next()  # Datalog set semantics are already distinct
        find: list[str] = []
        select_binds: list = []  # (expr, var) from SELECT (expr AS ?v)
        aggregates: list = []    # [datalog-agg, ?var|None, out-name]
        star = False
        if self.at("op", "*"):
            self.next()
            star = True
        else:
            while True:
                if self.at("var"):
                    find.append(self.next().val)
                elif self.at("op", "("):
                    # projection expression: SELECT (CONCAT(...) AS ?v)
                    # or aggregate: SELECT (COUNT(DISTINCT ?y) AS ?n)
                    self.next()
                    if self.peek() and self.peek().kind == "KW" and (
                        self.peek().val in _AGG_FNS
                    ):
                        fn = self.next().val
                        self.eat("op", "(")
                        distinct = False
                        if self.at("KW", "DISTINCT"):
                            self.next()
                            distinct = True
                        if fn == "COUNT" and self.at("op", "*"):
                            self.next()
                            arg = None  # resolved after WHERE parses
                        else:
                            arg = self.eat("var").val
                        sep = " "  # SPARQL default GROUP_CONCAT separator
                        if fn == "GROUP_CONCAT" and self.at("op", ";"):
                            self.next()
                            self.eat("KW", "SEPARATOR")
                            self.eat("op", "=")
                            raw = self.eat("str").val
                            sep = _decode_escapes(raw[1:-1])
                        self.eat("op", ")")
                        self.eat("KW", "AS")
                        v = self.eat("var").val
                        self.eat("op", ")")
                        head = (_group_concat_agg(sep)
                                if fn == "GROUP_CONCAT" else _AGG_FNS[fn])
                        if distinct:
                            if fn != "COUNT":
                                raise ValueError(
                                    f"DISTINCT inside {fn} not supported"
                                )
                            head = "count-distinct"
                        aggregates.append([head, arg, v[1:]])
                        find.append(v)
                    else:
                        expr = self.or_expr()
                        self.eat("KW", "AS")
                        v = self.eat("var").val
                        self.eat("op", ")")
                        select_binds.append([expr, v])
                        find.append(v)
                else:
                    break
        if self.at("KW", "WHERE"):
            self.next()
        self.eat("op", "{")
        where = self.group()
        where.extend(select_binds)
        # VALUES-with-UNDEF markers resolve once the full pattern is
        # known (bound-elsewhere vs introduces-bindings split)
        where = _resolve_values_markers(where)
        if construct_tmpl is not None:
            tvars: list[str] = []
            _collect_vars(construct_tmpl, tvars)
            if tvars:
                find = tvars
            else:
                # all-constant template: one solution decides emission
                seen0: list[str] = []
                _collect_vars(where, seen0)
                if not seen0:
                    raise ValueError(
                        "CONSTRUCT over a fully ground pattern: bind at "
                        "least one variable")
                find = seen0[:1]
        if star or is_ask:
            seen: list[str] = []
            _collect_vars(where, seen)
            if is_ask:
                # ASK needs one projected var to compile; a fully ground
                # pattern has none (out of subset)
                if not seen:
                    raise ValueError(
                        "ASK over a fully ground pattern: bind at least "
                        "one variable")
                find = seen[:1]
            else:
                find = seen
        if self.at("KW", "GROUP"):
            self.next()
            self.eat("KW", "BY")
            group_vars = []
            while self.at("var"):
                group_vars.append(self.next().val)
            if not aggregates:
                raise ValueError("GROUP BY without an aggregate in SELECT")
            plain = [v for v in find if not any(
                a[2] == v[1:] for a in aggregates)]
            if sorted(plain) != sorted(group_vars):
                # Datalog grouping is implicit over the plain find vars
                # (query.clj:1504), so the projected non-aggregates must
                # BE the group keys — standard SPARQL queries satisfy
                # this; grouping by an unprojected var is out of subset.
                raise ValueError(
                    "GROUP BY vars must equal the projected non-aggregate "
                    f"vars (got {group_vars}, projected {plain})"
                )
        having_preds: list = []
        self._having_hidden = []
        if self.at("KW", "HAVING"):
            if not aggregates:
                raise ValueError("HAVING requires an aggregate SELECT")
            self.next()
            self._in_having = True
            while self.at("op", "("):
                self.next()
                expr = self.or_expr()
                self.eat("op", ")")
                parts = (expr[1:] if isinstance(expr, list)
                         and expr[0] == "and" else [expr])
                having_preds.extend([p] for p in parts)
            self._in_having = False
            if not having_preds:
                raise ValueError("HAVING needs a parenthesized condition")
        if aggregates:
            agg_by_name = {a[2]: a for a in aggregates}
            # COUNT(*) counts ROWS per group (SPARQL 1.1 §18.5.1), but
            # Spark's count(col) skips NULLs — so the star column must be
            # a var a REQUIRED pattern binds (never NULL in a solution).
            # A var bound only inside OPTIONAL (the reference's LeftJoin,
            # sparql.clj:139-152 — here a NULL binding) or a UNION branch
            # would undercount. When no required-bound candidate exists,
            # synthesize a constant-bound hidden var: count(1) is exactly
            # row count.
            needs_star = any(
                a[1] is None for a in aggregates + self._having_hidden)
            star_var = None
            if needs_star:
                required: list[str] = []
                _collect_required_vars(where, required)
                plain = [v for v in find if v[1:] not in agg_by_name]
                star_var = next((v for v in plain if v in required), None)
                if star_var is None:
                    fallback: list[str] = []
                    _collect_vars(where, fallback)
                    star_var = next(
                        (v for v in fallback if v in required), None)
                if star_var is None:
                    star_var = "?__star"
                    where = where + [[["identity", 1], star_var]]
            rewritten: list = []
            for v in find:
                a = agg_by_name.get(v[1:])
                if a is None:
                    rewritten.append(v)
                    continue
                head, arg, name = a
                if arg is None:
                    arg = star_var
                rewritten.append([head, arg, name])
            find = rewritten
            if having_preds:
                # HAVING = post-aggregate filter. The Datalog surface has
                # no having, but it has the subquery pred with relation
                # binding (query.clj:973-986) — so nest: the grouped
                # query (plus any hidden aggregates HAVING itself
                # introduced) runs inside [(q ...)], its relation binds
                # the group keys + aggregate aliases, and the HAVING
                # conditions become ordinary outer predicates.
                hidden = []
                for head, arg, name in self._having_hidden:
                    if arg is None:
                        arg = star_var
                    hidden.append([head, arg, name])
                inner_find = find + hidden
                bind_vars = [
                    e if isinstance(e, str) else f"?{e[2]}"
                    for e in inner_find
                ]
                outer_find = [
                    e if isinstance(e, str) else f"?{e[2]}" for e in find
                ]
                where = [
                    [["q", {"find": inner_find, "where": where}],
                     [bind_vars]],
                    *having_preds,
                ]
                find = outer_find
        out: dict = {"find": find, "where": where}
        rules = self._build_rules()
        if rules:
            out["rules"] = rules
        if self.at("KW", "ORDER"):
            self.next()
            self.eat("KW", "BY")
            order = []
            while True:
                if self.at("KW", "ASC") or self.at("KW", "DESC"):
                    d = self.next().val.lower()
                    self.eat("op", "(")
                    v = self.eat("var").val
                    self.eat("op", ")")
                    order.append([v, d])
                elif self.at("var"):
                    order.append([self.next().val, "asc"])
                else:
                    break
            out["order-by"] = order
        if self.at("KW", "LIMIT"):
            self.next()
            out["limit"] = int(self.eat("num").val)
        if self.at("KW", "OFFSET"):
            self.next()
            out["offset"] = int(self.eat("num").val)
        if self.at("KW", "VALUES"):
            # trailing ValuesClause (SPARQL grammar: after the solution
            # modifiers) — joins the final result, so it appends to the
            # top-level where (post-HAVING nesting included)
            self.next()
            vb = self.values_block()
            if vb:
                out["where"] = _resolve_values_markers(
                    list(out["where"]) + [vb])
        if is_ask:
            # one solution decides the answer; CollectLimit short-circuits
            out["limit"] = 1
        if construct_tmpl is not None:
            out["construct"] = construct_tmpl
        if self.peek() is not None:
            raise ValueError(f"trailing SPARQL input at {self.peek()!r}")
        return out


def _mentions(form: Any, var: str) -> bool:
    if form == var:
        return True
    if isinstance(form, list):
        return any(_mentions(x, var) for x in form)
    return False


def _collect_vars(clauses: list, out: list[str]) -> None:
    for c in clauses:
        if isinstance(c, list):
            for x in c:
                if isinstance(x, str) and x.startswith("?") and x not in out:
                    out.append(x)
                elif isinstance(x, list):
                    _collect_vars([x], out)


def _collect_required_vars(clauses: list, out: list[str]) -> None:
    """Vars bound by REQUIRED patterns only: a flat 3-element clause is
    a triple pattern (or a generated closure-rule invocation), whose
    vars are never NULL in a solution. get-attr (OPTIONAL) bindings,
    or/not branches, BINDs and VALUES are skipped — conservative is
    correct here, since the caller falls back to a synthesized
    constant-bound var when nothing qualifies."""
    for c in clauses:
        if (isinstance(c, list) and len(c) == 3
                and all(not isinstance(x, list) for x in c)):
            for x in c:
                if isinstance(x, str) and x.startswith("?") and x not in out:
                    out.append(x)


def sparql_to_datalog(text: str, attr_fn=local_name) -> dict:
    """Compile a SPARQL SELECT or ASK (subset) to the Datalog dict
    `crux_spark.q` runs. ``attr_fn`` maps a predicate IRI to the catalog
    attribute local name (default: last path/fragment segment, matching
    pivot_triples). An ASK compiles to its pattern projected to one var
    with LIMIT 1 — use :func:`sparql_ask` for the boolean directly."""
    return _Parser(_tokenize(text), attr_fn).query()


def sparql_construct(catalog, text: str, attr_fn=local_name):
    """SPARQL CONSTRUCT: run the WHERE pattern, instantiate the template
    per solution, union + distinct. Returns a DataFrame (s, p, o) — all
    string-typed (object values stringified so heterogeneous template
    rows union; predicates use the catalog attr names, e.g. ':title').
    The reference's labs translator is SELECT-only (sparql.clj) — this
    is a superset surface."""
    from pyspark.sql import functions as F

    from crux_spark.datalog import q as _q

    d = sparql_to_datalog(text, attr_fn)
    tmpl = d.pop("construct")
    bind = _q(catalog, d)

    def cell(x):
        if isinstance(x, str) and x.startswith("?"):
            return F.col(x[1:]).cast("string")
        return F.lit(x).cast("string")

    out = None
    for (ts, tp, to) in tmpl:
        row = bind.select(
            cell(ts).alias("s"), cell(tp).alias("p"), cell(to).alias("o")
        )
        # SPARQL 1.1 §16.2: a template triple containing an UNBOUND
        # variable (e.g. one bound only inside OPTIONAL) is omitted
        # from the constructed graph, not emitted with a NULL slot.
        row = row.where(
            F.col("s").isNotNull()
            & F.col("p").isNotNull()
            & F.col("o").isNotNull()
        )
        out = row if out is None else out.unionByName(row)
    return out.distinct()


def sparql_describe(catalog, text: str, attr_fn=local_name):
    """SPARQL DESCRIBE: the concise bounded description of each target
    resource — every (subject, attribute, value) triple the catalog
    holds for it — as a distinct (s, p, o) DataFrame with the same
    stringification as CONSTRUCT (p = ':'-prefixed attr local name).
    IRI targets compile to a literal-entity var-attr EAV scan (the id
    equality pushes into every table scan); variable targets run the
    WHERE pattern joined to the scan on the entity var. The reference's
    SPARQL protocol surface is SELECT-shaped (crux.sparql.protocol) —
    this is superset surface, built on the same machinery as entity()
    doc fetch, pivoted to triples."""
    from pyspark.sql import functions as F

    from crux_spark.catalog import ID_COL
    from crux_spark.datalog import q as _q

    d = sparql_to_datalog(text, attr_fn)
    targets = d["describe"]
    where = d["where"]

    # Phase 1: the target id set — one small relation. Variable targets
    # come from the WHERE pattern (each projected + distinct); IRI
    # targets are literal rows. A description set is bounded by design
    # (it is the response of a lookup verb), so it broadcasts.
    id_frames = []
    spark = catalog.spark
    for t in targets:
        if isinstance(t, str) and t.startswith("?"):
            dq = {"find": [t], "where": where}
            if d.get("rules"):
                dq["rules"] = d["rules"]
            bind = _q(catalog, dq)
            id_frames.append(bind.select(
                F.col(bind.columns[0]).cast("string").alias("s")))
        else:
            id_frames.append(spark.range(1).select(
                F.lit(str(t)).alias("s")))
    ids = id_frames[0]
    for f in id_frames[1:]:
        ids = ids.unionByName(f)
    ids = ids.distinct()

    # Phase 2: broadcast the id set against EVERY catalog table and
    # pivot the MATCHED rows' columns to (s, p, o) with stack — the
    # row filter runs BEFORE the column->triple expansion, so the scan
    # never EAV-expands unmatched rows (the naive var-attr scan plan
    # explodes every column of every table first and joins after,
    # which is 10-40x the IO at any scale). NULL columns are absent
    # attributes, not triples.
    catalog._materialize_all()
    frames = []
    for name in catalog.tables():
        df = catalog.table(name)
        cols = [c for c in df.columns if c != ID_COL]
        if not cols:
            continue
        matched = df.join(
            F.broadcast(ids), df[ID_COL] == ids["s"], "inner")
        stack_args = []
        for c in cols:
            stack_args += [F.lit(":" + c), F.col(c).cast("string")]
        frames.append(
            matched.select(
                F.col("s"),
                F.stack(F.lit(len(cols)), *stack_args).alias("p", "o"),
            ).where(F.col("o").isNotNull())
        )
    if not frames:
        return ids.select(
            "s", F.lit(None).cast("string").alias("p"),
            F.lit(None).cast("string").alias("o")).limit(0)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def sparql_ask(catalog, text: str, attr_fn=local_name) -> bool:
    """SPARQL ASK: True iff the pattern has at least one solution.
    Compiles to the LIMIT-1 Datalog form, so the scan stops at the first
    match (Spark's CollectLimit short-circuits)."""
    from crux_spark.datalog import q as _q

    d = sparql_to_datalog(text, attr_fn)
    return len(_q(catalog, d).take(1)) > 0
