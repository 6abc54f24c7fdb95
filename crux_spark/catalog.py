"""Attribute catalog: maps Datalog attributes to columnar tables.

The reference stores every document decomposed into (A,V,E) triples in four
KV content indexes (crux-core/src/crux/kv/index_store.clj:936-963). The
Spark-first equivalent keeps documents as *typed columnar tables* — one
table per entity shape — and resolves a triple pattern ``[?e :attr ?v]`` to
``table.select(_id AS ?e, attr AS ?v)``. Catalyst then gets full predicate
pushdown + column pruning on the parquet scan, which the exploded-EAV layout
would forfeit for typed attributes.

Schemaless/heterogeneous collections register the same way via
:meth:`Catalog.add_documents` (any DataFrame + id column); cardinality-many
attributes are array columns and explode at pattern-resolution time
(codec.clj:822-828 ``multiple-values?`` equivalent).
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Primary keys for the driver-generated testdata tables (FIXTURES.md §1);
# `_id` is the concatenation of pkey values — the analogue of the
# reference's content-addressed entity id (crux-core/src/crux/codec.clj:526-608),
# but using the natural key so it stays human-readable and join-friendly.
PKEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

ID_COL = "_id"

# Confs the engine needs that are RUNTIME-settable, so a Catalog works even
# on a SparkSession it did not build (e.g. the correctness driver's vanilla
# session). Query results depend on these, so every Catalog sets them over
# whatever the session holds. `nanosAsLong` is the critical one: without it
# a vanilla session cannot even *schema-infer* events.parquet
# (TIMESTAMP(NANOS)) and every query dies in Catalog.__init__ — see
# session.py:45 for the builder-side counterpart. timeZone=UTC keeps
# timestamp results hash-identical to a UTC-naive DuckDB oracle regardless
# of host tz.
_SEMANTIC_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # clojure merge/assoc are right-wins on duplicate map keys
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}

# Tuning defaults: set once per session, and only where the session has no
# value, so a builder's or user's choice (get_spark's 16MB broadcast
# threshold, which session.py measured) is kept.
_TUNING_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    # dimension tables (region/nation/supplier/...) should broadcast in
    # star joins even on a session the engine didn't build
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # a vanilla session's 200-partition default is far too many locally
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
}

# sessions the tuning defaults have been applied to
_TUNED: weakref.WeakSet = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply the engine's runtime confs to a session: the
    semantic ones on every call, the tuning defaults once per session
    and only to unset keys."""
    confs = [(k, v, True) for k, v in _SEMANTIC_CONFS.items()]
    if spark not in _TUNED:
        confs += [(k, v, False) for k, v in _TUNING_CONFS.items()]
    for k, v, force in confs:
        try:
            cur = spark.conf.get(k, None)
            if cur != v and (force or cur is None):
                spark.conf.set(k, v)
        except Exception:
            # locked-down session (spark.sql.conf.isModifiable=false for this
            # key) — proceed; the builder path (session.py) sets it statically.
            pass
    _TUNED.add(spark)


def _nanos_ts_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) (footer read only).

    With nanosAsLong=true Spark surfaces these as bigint; the catalog
    converts them back to native (microsecond) timestamps so downstream
    temporal operators see real timestamps.
    """
    try:
        import glob
        import os as _os

        import pyarrow.parquet as pq

        if _os.path.isdir(path):
            # Spark directory layout: one part file's footer carries the
            # (uniform) schema
            parts = sorted(glob.glob(_os.path.join(path, "*.parquet")))
            if not parts:
                # Hive-partitioned layout (e.g. bucket=*/part-*.parquet, as
                # TxStore.save writes): part files sit under key=value dirs,
                # so the top-level glob matches nothing. Recurse before
                # giving up, else TIMESTAMP(NANOS) columns silently stay
                # bigint for partitioned datasets.
                parts = sorted(glob.glob(
                    _os.path.join(path, "**", "*.parquet"), recursive=True))
            if not parts:
                return []
            path = parts[0]
        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if str(schema.field(f.name).type) == "timestamp[ns]"
        ]
    except Exception:
        return []


@dataclass
class AttrRef:
    table: str
    column: str
    is_array: bool


class Catalog:
    """Resolves attributes → tables for the Datalog compiler.

    Parameters
    ----------
    spark : SparkSession
    sf_dir : path containing ``<table>.parquet`` files (TESTDATA.md), or
        None to start empty and register collections manually.
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self._dfs: dict[str, DataFrame] = {}
        self._attrs: dict[str, AttrRef] = {}
        self._table_attrs: dict[str, list[str]] = {}
        # name -> (path, pkey): tables NOT yet read. Registration is lazy so
        # one unreadable file can never zero every query (round-1 blocker:
        # a vanilla session choked on events.parquet in __init__ and all 49
        # correctness gates errored before any query logic ran).
        self._pending: dict[str, tuple[str, list[str]]] = {}
        self._errors: dict[str, Exception] = {}
        ensure_runtime_confs(spark)
        if sf_dir:
            for name in PKEYS:
                path = os.path.join(sf_dir, f"{name}.parquet")
                if os.path.exists(path):
                    self._pending[name] = (path, PKEYS[name])

    # -- registration -----------------------------------------------------

    def _materialize(self, name: str) -> None:
        if name in self._dfs or name not in self._pending:
            return
        path, pkey = self._pending.pop(name)
        try:
            df = self.spark.read.parquet(path)
            # TIMESTAMP(NANOS) parquet columns arrive as long (nanosAsLong);
            # normalize to Spark's native microsecond timestamps.
            for col in _nanos_ts_columns(path):
                if dict(df.dtypes).get(col) == "bigint":
                    df = df.withColumn(
                        col, F.timestamp_micros(F.expr(f"{col} div 1000"))
                    )
        except Exception as e:  # isolate: only queries touching `name` fail
            self._errors[name] = e
            return
        self._register_df(name, df, pkey)

    def _materialize_all(self) -> None:
        for name in list(self._pending):
            self._materialize(name)

    def _register_df(self, name: str, df: DataFrame, pkey: list[str]) -> None:
        if pkey and ID_COL not in df.columns:
            # Catalyst prunes _id when unused, so the concat costs nothing
            # on queries that never bind the entity var.
            df = df.withColumn(
                ID_COL, F.concat_ws("_", *[F.col(c).cast("string") for c in pkey])
            )
        self._dfs[name] = df
        # a new table invalidates any cached/materialized EAV view — the
        # union no longer covers the catalog (re-materialize to opt back
        # into the single-scan path).
        self._eav = None
        self._eav_path = None
        self._table_attrs[name] = []
        for field in df.schema.fields:
            if field.name == ID_COL:
                continue
            attr = f":{field.name}"
            self._attrs[attr] = AttrRef(
                table=name,
                column=field.name,
                is_array=isinstance(field.dataType, T.ArrayType),
            )
            self._table_attrs[name].append(attr)

    @classmethod
    def from_store(
        cls,
        store,
        valid_time=None,
        tx: int | None = None,
        name: str = "docs",
        schema=None,
    ) -> "Catalog":
        """Catalog over a TxStore snapshot — the reference's with-tx → q
        flow (query.clj:1896-1913): ``Catalog.from_store(store.with_tx(ops))``
        makes a speculative fork queryable through the Datalog surface in
        one call.

        Doc JSON is parsed into a wide typed table. Without an explicit
        ``schema``, one inference pass over the snapshot's doc_json derives
        it (fine for interactive/speculative use; at scale pass the schema
        or maintain typed tables alongside the store).
        """
        from pyspark.sql import functions as _F

        snap = store.db(valid_time, tx)
        spark = store.spark
        inferred = schema is None
        if inferred:
            schema = spark.read.json(
                snap.select("doc_json").rdd.map(lambda r: r[0])
            ).schema
        docs = snap.select(
            _F.col("eid").alias(ID_COL),
            _F.from_json("doc_json", schema).alias("doc"),
        ).select(ID_COL, "doc.*")
        from crux_spark.bitemporal.docjson import TYPES_KEY

        if TYPES_KEY in docs.columns:
            # the typed-doc sidecar is wire metadata, not an attribute
            docs = docs.drop(TYPES_KEY)
        if inferred:
            # json inference sees the legacy VALUE bytes (bare
            # "2024-01-02 03:04:05" strings, decimals-as-doubles), so
            # query/pull leaves would come back stringified. The typed
            # sidecar names the real classes — upgrade the columns it
            # tags consistently. Bounded sample: the tag set is a
            # function of the writing application's schema, not of row
            # count (same rationale as the inference pass itself; at
            # scale pass ``schema``).
            docs = cls._apply_sidecar_casts(docs, snap, _F)
        cat = cls(spark)
        cat.add_documents(name, docs)
        return cat

    @staticmethod
    def _apply_sidecar_casts(docs, snap, _F):
        """Cast inferred string/double columns to the classes the typed
        sidecar (docjson.py) declares, where every sampled doc agrees:
        inst/instant -> timestamp, ldt -> timestamp_ntz, date -> date,
        dec -> decimal(38,12). Nested paths, conflicting tags, and tags
        with no Spark carrier (char/time/dur/bigint/set) keep the legacy
        string form — the EAV layer handles those through its own typed
        union."""
        import json as _json

        sample = (
            snap.select("doc_json")
            .filter(_F.col("doc_json").contains('"crux.json/types"'))
            .limit(1000)
            .collect()
        )
        col_tags: dict[str, set] = {}
        from crux_spark.bitemporal.docjson import TYPES_KEY as _TK

        for r in sample:
            try:
                d = _json.loads(r[0])
            except ValueError:
                continue
            for entry in d.get(_TK) or []:
                path, tag = entry[0], entry[1]
                if len(path) == 1 and isinstance(path[0], str):
                    col_tags.setdefault(path[0], set()).add(tag)
        casts = {"inst": "timestamp", "instant": "timestamp",
                 "ldt": "timestamp_ntz", "date": "date",
                 "dec": "decimal(38,12)"}
        candidates: dict[str, str] = {}
        for col, tags in col_tags.items():
            if len(tags) == 1 and col in docs.columns:
                target = casts.get(next(iter(tags)))
                if target:
                    candidates[col] = target
        if not candidates:
            return docs
        # Validate each cast against the WHOLE column before applying it
        # (r13 advice): the tag sample only sees docs that carry the
        # sidecar, so a column mixing tagged dates/decimals with untagged
        # plain strings would "agree" and then the non-ANSI cast would
        # silently NULL the untagged values. One aggregate pass checks
        # (a) no non-null value try_casts to NULL, and (b) for dec, the
        # decimal(38,12) narrowing loses no precision (scale > 12 would
        # silently round). Any violation keeps the legacy string form —
        # the EAV layer still types those through its own union. Cost is
        # one scan at catalog-build time, the same order as the schema
        # inference pass that precedes it; at scale callers pass
        # ``schema`` and skip the inferred path entirely.
        agg_exprs = []
        for col, target in candidates.items():
            c = _F.col(col)
            agg_exprs.append(
                _F.sum((c.isNotNull() & c.try_cast(target).isNull())
                       .cast("long")).alias(f"__newnull_{col}")
            )
            if target.startswith("decimal"):
                wide = c.try_cast("decimal(38,18)")
                # try_cast here too: a target-accepted value whose
                # integer part exceeds (38,18) would be an ANSI
                # ArithmeticException under a hard cast
                narrowed = c.try_cast(target).try_cast("decimal(38,18)")
                agg_exprs.append(
                    _F.sum((wide.isNotNull() & narrowed.isNotNull()
                            & (wide != narrowed)).cast("long"))
                    .alias(f"__rounded_{col}")
                )
                # (38,18) holds only 20 integer digits, so a value with
                # a huge integer part NULLs the wide probe while the
                # (38,12) target still accepts it — the rounding
                # comparison above can't see such a value, and >12
                # fractional digits on it would silently round. Any
                # value the probe can't check keeps the string form.
                agg_exprs.append(
                    _F.sum((c.isNotNull() & wide.isNull()
                            & c.try_cast(target).isNotNull())
                           .cast("long")).alias(f"__uncheck_{col}")
                )
        stats = docs.agg(*agg_exprs).collect()[0].asDict()
        for col, target in candidates.items():
            if (stats.get(f"__newnull_{col}") or 0) > 0:
                continue
            if (stats.get(f"__rounded_{col}") or 0) > 0:
                continue
            if (stats.get(f"__uncheck_{col}") or 0) > 0:
                continue
            docs = docs.withColumn(col, _F.col(col).cast(target))
        return docs

    def add_documents(
        self, name: str, df: DataFrame, id_col: str | None = None, prefix: str = ""
    ) -> None:
        """Register a schemaless document collection (wide DataFrame; missing
        attributes are nulls, cardinality-many attributes are arrays)."""
        if id_col and id_col != ID_COL:
            df = df.withColumn(ID_COL, F.col(id_col).cast("string"))
            pkey = []
        else:
            pkey = [c for c in df.columns if c == ID_COL] and [] or []
        self._register_df(name, df, pkey)
        if prefix:
            # re-key attrs under the prefix, e.g. ":person/name"
            for attr in list(self._table_attrs[name]):
                ref = self._attrs.pop(attr)
                new = f":{prefix}{attr[1:]}"
                self._attrs[new] = ref
            self._table_attrs[name] = [f":{prefix}{a[1:]}" for a in self._table_attrs[name]]

    # -- lookup -----------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        if name not in self._dfs:
            self._materialize(name)
        if name in self._errors:
            raise RuntimeError(
                f"table {name!r} failed to load: {self._errors[name]}"
            ) from self._errors[name]
        return self._dfs[name]

    def tables(self) -> list[str]:
        self._materialize_all()
        return list(self._dfs)

    def resolve_attr(self, attr: str) -> AttrRef:
        if attr not in self._attrs and self._pending:
            self._materialize_all()
        try:
            return self._attrs[attr]
        except KeyError:
            raise KeyError(
                f"unknown attribute {attr!r}; known: {sorted(self._attrs)[:20]}..."
            ) from None

    def eav_view(self) -> DataFrame:
        """Union of the typed EAV triples views of every registered table
        (SURVEY.md §1.5's `triples` view) — the fallback scan for
        variable-attribute Datalog patterns ``[?e ?a ?v]``. Values bind in
        stringified form; typed comparisons should use fixed attributes.

        The union is lazy and writes nothing: each var-attr clause scans
        every table. After :meth:`materialize_eav` it is the one
        attribute-partitioned parquet table instead."""
        if getattr(self, "_eav", None) is None:
            self._eav = self._eav_union()
        return self._eav

    def _eav_union(self) -> DataFrame:
        from crux_spark.sources.loaders import triples_view

        self._materialize_all()
        views = [triples_view(self._dfs[t]) for t in self._dfs]
        out = views[0]
        for v in views[1:]:
            out = out.unionByName(v)
        return out

    def materialize_eav(self, path: str | None = None) -> str:
        """Write the catalog-wide EAV view ONCE to parquet, partitioned
        by attribute, and make every subsequent ``eav_view()`` consumer —
        var-attribute scans (``[?e ?a ?v]``), the ``?p+``/``?p*``
        variable-predicate closure domain — read that single table
        instead of re-computing the N-table union per clause.

        Why: the union view re-scans and explodes EVERY registered table
        for EVERY var-attr clause (and per closure round). At 100 TB
        that's the difference between one columnar scan with
        attribute-partition pruning (a fixed-``a`` filter prunes to one
        partition directory) and N full scans. The reference stores EAV
        natively in its index (index_store.clj AVE/AEV), so var-attr is
        free there; this is the Spark equivalent. It is never taken
        implicitly: the caller owns the path and its lifetime, and a
        table registered later drops the catalog back to the union.

        Schema note: the EAV view gained typed slots in r12 (v_char /
        v_bigint / v_time / v_ldt / v_inst); a parquet table written by
        an older build lacks them — delete it and re-materialize rather
        than pointing a new catalog at the stale path.

        Idempotent per catalog: returns the existing path on a second
        call. Pass ``path`` to control the location (default:
        spark-warehouse/crux_eav)."""
        if getattr(self, "_eav_path", None) is not None:
            return self._eav_path
        import os as _os

        path = path or _os.path.join("spark-warehouse", "crux_eav")
        # build the union fresh (not the cached self._eav, which may
        # already BE a materialized read from a prior catalog)
        out = self._eav_union()
        # REBALANCE on the partition column before the partitionBy write
        # (r15 optimization, guide §6 small-files): without it every
        # union branch's tasks each open a file per attribute they
        # touch — N_branches x N_attrs tiny files and as many task
        # commits. REBALANCE clusters rows by attribute AND lets AQE
        # split a skewed attribute across several writers, so output
        # file count tracks data size instead of plan width. Measured
        # 8.2s -> 3.6s on a 10-table catalog union at sf0.1.
        out.hint("rebalance", "a").write.mode("overwrite").partitionBy(
            "a"
        ).parquet(path)
        self._eav = self.spark.read.parquet(path)
        self._eav_path = path
        return path

    def register_views(self) -> None:
        """Expose every table as a temp view for the spark.sql() surface
        (replaces the reference's Calcite adapter, SURVEY.md §3.3)."""
        self._materialize_all()
        for name, df in self._dfs.items():
            df.createOrReplaceTempView(name)
