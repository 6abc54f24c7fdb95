"""Pull / EQL nested projection (crux-core/src/crux/pull.clj).

The reference compiles an EQL AST to a closure tree doing batched doc-store
lookups (batch-size 100, pull.clj:184-201) with forward joins, reverse
joins (``:crux.db/_attr`` via AVE), wildcards, spec parameters
(pull.clj:74-105: ``:limit`` / ``:as`` / ``:default`` / ``:into``) and
recursion — bounded ints and unlimited ``...`` with a seen-set cycle guard
(pull.clj:50-68: an entity already on the current path renders as its id
only). The Spark recast: pull = left joins against the attribute tables +
struct assembly — Catalyst batches "lookups" as joins for free — and
recursion = level-wise frontier expansion carrying the path (the same
iterate-to-fixpoint pattern the recursive-rule compiler uses), rendered
bottom-up into nested structs.

Spec forms (Python analogue of EQL):
    ["*"]                          every attribute of the entity's table
    [":name", ":age"]              named attributes
    [[":age", {"as": "years", "default": 0, "limit": 2}]]
                                   parameterized attribute: rename the
                                   output field / replace nil / truncate a
                                   multi-valued attr ({:as/:default/:limit}
                                   params, pull.clj:100-105, 74-81)
    [{":friend": [":name"]}]       forward join: value of :friend is an id
                                   into `joins[":friend"]`'s collection;
                                   array values -> array of structs
    [{":_follows": [":name"]}]     reverse join: entities whose :follows
                                   contains ?e
    [{":friend": {"spec": [":name"], "limit": 2, "as": "pals"}}]
                                   parameterized join (pull.clj:74-81:
                                   limit applies to the value list before
                                   recursion; "cardinality": "one" unwraps
                                   a reverse join to a single struct)
    [{":follows": 2}]              bounded recursion: follow the edge N
                                   levels deep, nesting structs; cycle
                                   guard applies (pull.clj:63-66)
    [{":follows": "..."}]          unlimited recursion: expand until every
                                   path revisits an entity or runs out of
                                   edges; revisited entities render as an
                                   id-only stub, the reference's
                                   {:crux.db/id v} (pull.clj:50-56)

Forward/reverse join targets are resolved via the `joins` mapping
(attr -> collection name) passed by the caller — the schemaless reference
resolves them dynamically per doc; a typed catalog needs the hint once.

Divergences (documented): structs are fixed-schema, so "missing attrs are
dropped" becomes "missing attrs are null", and cycle stubs carry the full
struct shape with only `id` non-null; child collections are id-sorted
(the reference preserves doc order).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crux_spark.catalog import ID_COL, Catalog


def _table_attrs(catalog: Catalog, table: str) -> list[str]:
    return catalog._table_attrs[table]


def _field_name(attr: str, params: dict) -> str:
    """Output field name: the :as param (keyword or plain string), else
    the attribute name without the leading ':'."""
    as_ = params.get("as")
    if as_ is not None:
        return as_[1:] if isinstance(as_, str) and as_.startswith(":") else str(as_)
    return attr[1:]  # reverse attrs keep the '_' prefix, like the reference


def _norm_plain(el) -> tuple[str, dict]:
    """A plain spec element: ":attr" or [":attr", {params}]."""
    if isinstance(el, str):
        return el, {}
    if isinstance(el, (list, tuple)) and len(el) == 2 and isinstance(el[0], str):
        return el[0], dict(el[1])
    raise ValueError(f"bad pull spec element {el!r}")


def _apply_plain_params(col: Column, ref, params: dict) -> Column:
    if params.get("limit") is not None and ref.is_array:
        col = F.slice(col, 1, int(params["limit"]))
    if params.get("into") == "set" and ref.is_array:
        col = F.array_distinct(col)
    if "default" in params:
        col = F.coalesce(col, F.lit(params["default"]))
    return col


def _null_struct_like(dtype: T.StructType, id_value: Column) -> Column:
    """A struct of `dtype` with only the id field set — the reference's
    {:crux.db/id v} cycle stub (pull.clj:52-53)."""
    fields = []
    for f in dtype.fields:
        if f.name == "id":
            fields.append(id_value.cast(f.dataType).alias("id"))
        else:
            fields.append(F.lit(None).cast(f.dataType).alias(f.name))
    return F.struct(*fields)


def _recursive_pull(
    catalog: Catalog,
    roots: DataFrame,
    table: str,
    attr: str,
    reverse: bool,
    plain: list[tuple[str, dict]],
    out_key: str,
    max_depth: int | None,
    edge_limit: int | None,
) -> tuple[DataFrame, str]:
    """Recursion through `attr` within one collection. Returns a
    DataFrame (__pe, <out_key struct array column>) for the root ids.

    Level-wise expansion carrying the path of entity ids: a child already
    on its path is NOT expanded (frontier stays finite on cyclic graphs)
    and renders as an id-only stub, matching pull.clj:50-68. Each level
    is checkpointed — the loop runs `max simple-path depth` iterations,
    the iterative-frontier shape that scales the same way the recursive
    rule engine does."""
    ref = catalog.resolve_attr(attr)
    src = catalog.table(ref.table)
    val = F.col(ref.column)
    if ref.is_array and edge_limit is not None:
        val = F.slice(val, 1, edge_limit)
    if ref.is_array:
        edges = src.select(
            F.col(ID_COL).alias("__parent"), F.explode(val).alias("__child")
        )
    else:
        edges = src.select(F.col(ID_COL).alias("__parent"), val.alias("__child"))
    if reverse:
        edges = edges.select(
            F.col("__child").alias("__parent"), F.col("__parent").alias("__child")
        )
    edges = edges.filter(F.col("__child").isNotNull()).localCheckpoint(eager=False)

    lv0 = roots.select(
        F.array(F.col("__pe")).alias("__path"), F.col("__pe").alias("__node")
    )
    levels = [lv0.localCheckpoint()]
    while max_depth is None or len(levels) <= max_depth:
        cur = levels[-1]
        nxt = (
            cur.join(edges, cur["__node"] == edges["__parent"])
            .filter(~F.array_contains(F.col("__path"), F.col("__child")))
            .select(
                F.concat(F.col("__path"), F.array(F.col("__child"))).alias(
                    "__path"
                ),
                F.col("__child").alias("__node"),
            )
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)

    # plain attrs of a node, params applied
    ent = catalog.table(table)
    attr_cols: list[Column] = [F.col(ID_COL).alias("__aid")]
    plain_fields: list[tuple[str, str]] = []  # (source col alias, out name)
    for a, params in plain:
        aref = catalog.resolve_attr(a)
        name = _field_name(a, params)
        attr_cols.append(
            _apply_plain_params(F.col(aref.column), aref, params).alias(f"__a_{name}")
        )
        plain_fields.append((f"__a_{name}", name))
    attrs_df = ent.select(*attr_cols).localCheckpoint(eager=False)

    rendered: DataFrame | None = None  # level k+1 render: (__path, __struct)
    for k in range(len(levels) - 1, -1, -1):
        cur = levels[k]
        row = cur.join(attrs_df, cur["__node"] == attrs_df["__aid"], "left")
        if rendered is not None:
            kid_type = rendered.schema["__struct"].dataType
        else:
            # bottom: children (if any) are all cycle stubs — id-only type
            kid_type = T.StructType([T.StructField("id", T.StringType())])
        # cycle stubs: edges whose child is already on the path (and, for
        # bounded recursion, every child past the depth cap is cut — the
        # reference's (<= (count seen-vs) query) guard, pull.clj:63-66)
        at_cap = max_depth is not None and k == max_depth
        if not at_cap:
            stub_rows = (
                cur.join(edges, cur["__node"] == edges["__parent"])
                .filter(F.array_contains(F.col("__path"), F.col("__child")))
                .select(
                    F.col("__path").alias("__ppath"),
                    _null_struct_like(kid_type, F.col("__child")).alias(
                        "__kid"
                    ),
                )
            )
        else:
            stub_rows = None
        if rendered is not None:
            real_rows = rendered.select(
                F.slice(
                    F.col("__path"), 1, F.size(F.col("__path")) - 1
                ).alias("__ppath"),
                F.col("__struct").alias("__kid"),
            )
            kid_rows = (
                real_rows.unionByName(stub_rows) if stub_rows is not None else real_rows
            )
        else:
            kid_rows = stub_rows
        fields = [F.col("__node").alias("id")] + [
            F.col(src_col).alias(name) for src_col, name in plain_fields
        ]
        if kid_rows is not None:
            kids = kid_rows.groupBy("__ppath").agg(
                F.sort_array(F.collect_list("__kid")).alias("__kids")
            )
            row = row.join(kids, row["__path"] == kids["__ppath"], "left")
            fields.append(F.col("__kids").alias(out_key))
        else:
            fields.append(
                F.lit(None).cast(T.ArrayType(kid_type)).alias(out_key)
            )
        rendered = row.select(
            F.col("__path"), F.struct(*fields).alias("__struct")
        )

    assert rendered is not None
    return (
        rendered.select(
            F.element_at(F.col("__path"), 1).alias("__pe"),
            F.col("__struct")[out_key].alias(f"__subs_{attr}"),
        ),
        f"__subs_{attr}",
    )


def _split_spec(spec: list):
    """(plain, nested, unions, wildcard) of a spec: plain [(attr,
    params)], nested [(attr, sub-spec, params)] for joins and
    recursion, unions [(dispatch attr, {value: [attrs]})]."""
    plain: list[tuple[str, dict]] = []
    nested: list[tuple[str, Any, dict]] = []
    unions: list[tuple[str, dict]] = []
    wildcard = False
    for el in spec:
        if el == "*":
            wildcard = True
        elif isinstance(el, dict):
            for k, v in el.items():
                if isinstance(v, dict) and "spec" in v:
                    params = {p: x for p, x in v.items() if p != "spec"}
                    nested.append((k, v["spec"], params))
                elif isinstance(v, dict):
                    # EQL union (pull_test.clj:170-186 test-union): the
                    # VALUE of attr k picks which branch's attrs project;
                    # non-matching branches' fields stay null
                    unions.append((k, v))
                else:
                    nested.append((k, v, {}))
        else:
            plain.append(_norm_plain(el))
    return plain, nested, unions, wildcard


def is_flat(spec: list) -> bool:
    """True for a spec with no forward or reverse join and no
    recursion: plain attributes (with params), wildcards and unions
    only — every output field reads the entity's own row."""
    return not _split_spec(spec)[1]


def _parse_spec(catalog: Catalog, table: str, spec: list):
    """(plain, nested, unions) with a wildcard expanded to the table's
    attributes not already named."""
    plain, nested, unions, wildcard = _split_spec(spec)
    if wildcard:
        nested_fwd = {a for a, _, _ in nested if not a.startswith(":_")}
        have = {a for a, _ in plain}
        plain = plain + [
            (a, {})
            for a in _table_attrs(catalog, table)
            if a not in have and a not in nested_fwd
        ]
    return plain, nested, unions


def _root_columns(
    catalog: Catalog, plain: list[tuple[str, dict]], unions: list[tuple[str, dict]]
) -> tuple[list[Column], list[Column]]:
    """The columns a pull reads off the entity's own row: hidden
    ``__p_<name>`` columns (params and union guards applied) for the
    table select, and the struct fields that rename them."""
    cols: list[Column] = []
    fields: list[Column] = []
    for a, params in plain:
        ref = catalog.resolve_attr(a)
        name = _field_name(a, params)
        cols.append(
            _apply_plain_params(F.col(ref.column), ref, params).alias(f"__p_{name}")
        )
        fields.append(F.col(f"__p_{name}").alias(name))
    for key_attr, branches in unions:
        key_col = F.col(catalog.resolve_attr(key_attr).column)
        # same attr may appear in several branches: OR the branch guards
        guarded: dict[str, Column] = {}
        for val, battrs in branches.items():
            for a in battrs:
                if not isinstance(a, str) or a == "*":
                    raise NotImplementedError(
                        "union branches support plain attributes only"
                    )
                ref = catalog.resolve_attr(a)
                case = F.when(key_col == F.lit(val), F.col(ref.column))
                name = _field_name(a, {})
                guarded[name] = (
                    F.coalesce(guarded[name], case) if name in guarded else case
                )
        for name, col in guarded.items():
            cols.append(col.alias(f"__p_{name}"))
            fields.append(F.col(f"__p_{name}").alias(name))
    return cols, fields


def pull_flat(
    catalog: Catalog, table: str, spec: list, out_col: str = "pull"
) -> DataFrame:
    """(__pe, out_col) for EVERY entity of ``table`` under a flat spec
    (is_flat): the root columns of :func:`pull` projected straight off
    the table, with no driving-set join — over a local table (the
    caller's catalog holds just the requested entities) this collects
    without a Spark job."""
    plain, nested, unions = _parse_spec(catalog, table, spec)
    if nested:
        raise ValueError("pull_flat needs a spec without joins or recursion")
    cols, fields = _root_columns(catalog, plain, unions)
    return (
        catalog.table(table)
        .select(F.col(ID_COL).alias("__pe"), *cols)
        .select("__pe", F.struct(*fields).alias(out_col))
    )


def pull(
    catalog: Catalog,
    df: DataFrame,
    entity_col: str,
    table: str,
    spec: list,
    joins: dict[str, str] | None = None,
    out_col: str = "pull",
    _depth: int = 0,
) -> DataFrame:
    """Attach a struct column `out_col` with the pulled projection for each
    entity id in `df[entity_col]`."""
    joins = joins or {}
    if _depth > 16:
        raise ValueError("pull spec nesting too deep")

    plain, nested, unions = _parse_spec(catalog, table, spec)

    recursions = [
        (a, sub, p) for a, sub, p in nested if isinstance(sub, int) or sub == "..."
    ]
    if len(recursions) > 1:
        raise NotImplementedError(
            "multiple recursion specs in one pattern (EQL doesn't support "
            "this either — reference datascript_pull_test.clj:205-209)"
        )

    # Restrict every scan to the DRIVING entity set up front (the
    # reference pulls are point doc-lookups for the query's result
    # entities, pull.clj:191 batches of 100): without this, `base` scans
    # the whole parent table and reverse joins collect_list over the
    # ENTIRE child table, joining the (typically small) driving set only
    # at the end — a full-table aggregate for a 300-entity pull. A
    # left-semi join against the driving ids lets AQE broadcast the
    # small set, collapsing scan→agg→join volumes to O(driving set);
    # for whole-table pulls it degrades to one extra id-only shuffle.
    driving = df.select(
        F.col(entity_col).cast("string").alias("__pe")
    ).distinct()
    # materialize the id set ONCE (executor-side blocks, never the
    # driver): every edge scan semi-joins it, and without this each semi
    # re-executes the driving query's whole subtree (ReusedExchange only
    # kicks in for byte-identical exchanges, which AQE re-planning often
    # breaks). For whole-table pulls this stores O(ids) per executor —
    # bounded by the same distinct the semis need anyway.
    driving = driving.localCheckpoint(eager=False)
    # No broadcast hint and no driver-side count: AQE converts the semis
    # to broadcasts at runtime when the driving set is small (measured:
    # a count()-gated explicit hint costs MORE in job latency than AQE's
    # re-plan — 1.6s vs 0.85s at sf0.1 — and an unconditional hint risks
    # building a whole-table pull's driving set on the driver).
    base_cols = [F.col(ID_COL).alias("__pe")]
    # forward refs resolving to a column OF the parent table ride the
    # (driving-restricted) base scan as hidden __fk columns — one scan,
    # one semi, instead of re-scanning the table per nested attr
    fk_cols: dict[str, str] = {}
    for _attr, _sub, _params in nested:
        if _attr.startswith(":_") or isinstance(_sub, int) or _sub == "...":
            continue
        _ref = catalog.resolve_attr(_attr)
        if _ref.table == table:
            fk_cols[_attr] = f"__fk_{_attr}"
            base_cols.append(F.col(_ref.column).alias(fk_cols[_attr]))
    root_cols, struct_fields = _root_columns(catalog, plain, unions)
    base = catalog.table(table).select(*base_cols, *root_cols).join(
        driving, "__pe", "left_semi"
    )

    for attr, sub, params in nested:
        reverse = attr.startswith(":_")
        real_attr = ":" + attr[2:] if reverse else attr
        out_key = _field_name(attr, params)
        limit = params.get("limit")

        if isinstance(sub, int) or sub == "...":
            # recursion re-applies the ENCLOSING spec's plain attrs at
            # every level (pull.clj:56-61 recurses with the same child-fns)
            joins = {**joins, real_attr: joins.get(real_attr, table)}
            max_depth = None if sub == "..." else int(sub)
            rec, rec_col = _recursive_pull(
                catalog,
                base.select("__pe").distinct(),
                joins[real_attr],
                real_attr,
                reverse,
                plain,
                out_key,
                max_depth,
                limit,
            )
            base = base.join(rec, "__pe", "left")
            struct_fields.append(F.col(rec_col).alias(out_key))
            continue

        target = joins.get(real_attr, None)
        if target is None:
            raise ValueError(
                f"pull join {attr!r} needs a collection hint in `joins`"
            )
        ref = catalog.resolve_attr(real_attr)
        src = catalog.table(ref.table)
        if reverse:
            # entities in ref.table whose attr points at our entity
            parent = (
                F.explode(F.col(ref.column)) if ref.is_array else F.col(ref.column)
            ).alias("__parent")
            sub_plain = [el for el in sub if isinstance(el, str) and el != "*"]
            flat = (
                target == ref.table
                and len(sub_plain) == len(sub)
                and all(
                    catalog.resolve_attr(a).table == ref.table for a in sub_plain
                )
            )
            if flat:
                # the sub-entities ARE the edge rows: resolve their plain
                # attrs in the SAME scan instead of re-scanning the table
                # and joining back (3 scans -> 1 on the child table)
                sub_cols = [
                    F.col(catalog.resolve_attr(a).column).alias(
                        catalog.resolve_attr(a).column
                    )
                    for a in sub_plain
                ]
                joined = src.select(
                    parent, F.struct(*sub_cols).alias("__sub")
                ).join(
                    driving,
                    F.col("__parent").cast("string") == driving["__pe"],
                    "left_semi",
                )
            else:
                edges = src.select(F.col(ID_COL).alias("__child"), parent).join(
                    driving,
                    F.col("__parent").cast("string") == driving["__pe"],
                    "left_semi",
                )
                sub_pulled = pull(
                    catalog,
                    edges.select(F.col("__child").alias("__pe2")).distinct(),
                    "__pe2",
                    target,
                    sub,
                    joins,
                    "__sub",
                    _depth + 1,
                )
                joined = edges.join(
                    sub_pulled, edges["__child"] == sub_pulled["__pe2"], "left"
                )
            subs = F.sort_array(F.collect_list("__sub"))
            if limit is not None:
                subs = F.slice(subs, 1, int(limit))
            if params.get("cardinality") == "one":
                subs = F.element_at(subs, 1)
            agg = joined.groupBy("__parent").agg(subs.alias("__subs"))
            base = base.join(agg, base["__pe"] == agg["__parent"], "left").drop(
                "__parent"
            )
            base = base.withColumnRenamed("__subs", f"__subs_{attr}")
            struct_fields.append(F.col(f"__subs_{attr}").alias(out_key))
        else:
            if attr in fk_cols:
                # parent-table forward ref: the fk rode the restricted
                # base scan — no second table scan, no second semi
                edge_src, val = base, F.col(fk_cols[attr])
            else:
                edge_src, val = src, F.col(ref.column)
            if ref.is_array and limit is not None:
                # limit applies to the value list BEFORE recursion
                # (pull.clj:79-81 cond->> v limit (take limit))
                val = F.slice(val, 1, int(limit))
            if ref.is_array:
                edges = edge_src.select(
                    F.col(ID_COL if edge_src is src else "__pe")
                    .alias("__parent"),
                    F.explode(val).alias("__child"),
                )
            else:
                edges = edge_src.select(
                    F.col(ID_COL if edge_src is src else "__pe")
                    .alias("__parent"),
                    val.alias("__child"),
                )
            if edge_src is src:
                edges = edges.join(
                    driving,
                    F.col("__parent") == driving["__pe"],
                    "left_semi",
                )
            sub_pulled = pull(
                catalog,
                edges.select(F.col("__child").cast("string").alias("__pe2")).distinct(),
                "__pe2",
                target,
                sub,
                joins,
                "__sub",
                _depth + 1,
            )
            joined = edges.join(
                sub_pulled,
                edges["__child"].cast("string") == sub_pulled["__pe2"],
                "left",
            )
            subs = F.sort_array(F.collect_list("__sub"))
            if params.get("into") == "set":
                subs = F.array_distinct(subs)
            agg = joined.groupBy("__parent").agg(subs.alias("__subs"))
            base = base.join(agg, base["__pe"] == agg["__parent"], "left")
            base = base.drop("__parent").withColumnRenamed(
                "__subs", f"__subs_{attr}"
            )
            struct_fields.append(F.col(f"__subs_{attr}").alias(out_key))

    assembled = base.select("__pe", F.struct(*struct_fields).alias(out_col))
    return df.join(
        assembled, df[entity_col] == assembled["__pe"], "left"
    ).drop("__pe")
