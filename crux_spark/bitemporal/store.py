"""Distributed bitemporal document store.

The reference's write path (SURVEY.md §3.4): submit-tx appends events to a
totally-ordered log; every node's ingester indexes each tx serially
(tx.clj:424-479). The Spark recast keeps the *serial-per-entity* part —
which is all the splice algebra needs. Where the ops live decides how:

    commit() — ops already on the driver (submit_tx, recover):
    versions ── eid IN (touched) ─ collect ─┐
    pending ops ───────────────────────────┴─ splice.py, tx by tx ─ new histories
    versions ── eid NOT IN (touched) ∪ new histories ─ coalesce ─ localCheckpoint

    apply_ops_df() — a distributed op frame (bulk_ingest, streaming micro-batches):
    ops frame ── one probe job: max tx, any match, any existing eid, put order
      only ordered unranged puts, all on fresh eids (no union into an empty store):
        versions ∪ closed form ──────────────────────────────── coalesce ─ localCheckpoint
      any other frame:
        versions ── eid IN (frame) ─┬─ cogroup on eid ─ applyInPandas(splice) ─┐
        ops frame ──────────────────┘                                          │
        versions ── eid NOT IN (frame) ∪ new histories ────────── coalesce ─ localCheckpoint

A commit's cost follows the entities it touches: one job collects their
histories, the driver applies the batch tx by tx (a tx whose match fails
is dropped whole — serial abort semantics by construction), and one job
writes the untouched rows back with the new histories, holding the
table's partition count so reads do not slow down as commits pile up.
The first commit into an empty store of ordered unranged puts takes the
closed form (_bulk_put_versions) instead, checked on the driver.

Reads of single entities go through an entity-history cache on the
driver (the reference's 32K-entry entity LRU, query.clj:1546-1552):

    entity / entity_tx / entity_history / db_of(eids) — point reads:
    eid ─ cache hit ──────────────────────────┐
        ─ miss: versions ── eid IN (misses) ─ collect ─┴─ splice.py visibility

A hit runs no Spark job; all misses of one read are fetched in one job.
commit() takes its touched histories from the same cache and writes the
new ones back (untouched entries stay valid), so a read of a just-
written entity always hits. Any other assignment of ``versions`` clears
the cache.

apply_ops_df is for op frames that never reach the driver. Its cost
follows the frame too: the closed form only adds rows, and the cogroup
runs the splice over the histories of the eids the frame names, while
the other rows pass through in the JVM. Per-entity
histories are small; entities shard across executors. At 100 TB the
versions table is partitioned/bucketed by eid so the cogroup is a single
co-located shuffle. Match/CAS atomicity across entities is two-phase
there: a distributed evaluation pass computes per-tx match verdicts (only
tx_ids come back to the driver), aborted txs are excluded, then the apply
pass runs. Iterated to fixpoint because an abort can change a later tx's
match input; each round finalises the earliest failing tx of every
independent entity group, so a match-carrying batch holds its distinct
(tx, eid) pairs on the driver.

Transaction functions (tx.clj:178-227) run on the driver at submit time via
a registered deterministic Python fn that returns ops — the analogue of the
serial tx-fn evaluation in the reference's single-threaded ingester.
"""

from __future__ import annotations

import collections
import datetime as dt
import functools
import hashlib
import json
import os
import threading
from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crux_spark.bitemporal import docjson as _docjson
from crux_spark.bitemporal import splice
from crux_spark.bitemporal.splice import END_OF_TIME, END_OF_TX, Version, to_us

# SQL table-registry attribute (the reference's Calcite schema docs,
# crux-sql/src/crux/calcite.clj:459-466). Registry docs are TRACKED AT
# WRITE TIME (r9 verdict: sql.register_tables full-scanned doc_json per
# registration — a contains() on a wide string column prunes nothing at
# 100 TB): the attribute is a known key at put time, so the store keeps
# the tiny eid side-set incrementally and register_tables reads the
# registry through a pushed-down eid IN-filter instead.
SCHEMA_DOC_ATTR = "crux.sql.table/name"
_SCHEMA_NEEDLE = f'"{SCHEMA_DOC_ATTR}"'


def _call_listener(fn: Callable, epoch: int, batch: DataFrame,
                   max_tx: int | None) -> Any:
    """Invoke an indexed-tx listener, handing down the batch's max tx id
    when the callable can take it (saves watermark-keeping indexes a full
    extra aggregate pass over the batch). Arbitrary two-arg listeners are
    still called with the original (epoch, batch) signature — feature
    detection via the signature, NOT try/except TypeError, so a TypeError
    raised INSIDE a listener is never masked by a silent re-call."""
    import inspect

    if max_tx is not None:
        try:
            params = inspect.signature(fn).parameters
            if "max_tx" in params or any(
                p.kind == p.VAR_KEYWORD for p in params.values()
            ):
                return fn(epoch, batch, max_tx=max_tx)
        except (TypeError, ValueError):
            pass
    return fn(epoch, batch)

VERSIONS_SCHEMA = T.StructType(
    [
        T.StructField("eid", T.StringType(), False),
        T.StructField("valid_from", T.LongType(), False),  # micros
        T.StructField("valid_to", T.LongType(), False),
        T.StructField("tx_from", T.LongType(), False),
        T.StructField("tx_to", T.LongType(), False),
        T.StructField("tx_time", T.LongType(), False),
        T.StructField("doc_json", T.StringType(), True),
        T.StructField("deleted", T.BooleanType(), False),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("asserted", T.BooleanType(), False),
        T.StructField("origin_tx", T.LongType(), False),
        # hash back-computed from a hash-less (pre-typed-upgrade) WAL
        # row — the only rows where match may use the legacy-hash
        # fallback (splice.matches). Nullable: rows from checkpoints
        # written before this column default to True (tolerant — the
        # fallback's original r12/r13 purpose) on load.
        T.StructField("legacy_hash", T.BooleanType(), True),
    ]
)

OPS_SCHEMA = T.StructType(
    [
        T.StructField("eid", T.StringType(), False),
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("tx_time", T.LongType(), False),
        T.StructField("doc_json", T.StringType(), True),
        T.StructField("expected_json", T.StringType(), True),
        # submit-time content hashes: the log's immutable identity for
        # doc / expected (the reference's content-addressed tx-events) —
        # evict redaction rewrites the *_json bodies but never these, so
        # replayed match verdicts are stable. Null on legacy WAL rows
        # (replay falls back to hashing the json bodies).
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("expected_hash", T.StringType(), True),
        T.StructField("valid_from", T.LongType(), True),
        T.StructField("valid_to", T.LongType(), True),
    ]
)

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
    ]
)

# One driver-side op row in _apply_ops' attribute form. Built with
# r.get() so raw WAL dicts that omit optional keys read as null.
_OpRow = collections.namedtuple("_OpRow", [f.name for f in OPS_SCHEMA.fields])


def _row_to_version(r) -> Version:
    return Version(
        valid_from=int(r.valid_from),
        valid_to=int(r.valid_to),
        tx_from=int(r.tx_from),
        tx_to=int(r.tx_to),
        tx_time=int(r.tx_time),
        doc_json=r.doc_json if isinstance(r.doc_json, str) else None,
        deleted=bool(r.deleted),
        content_hash=r.content_hash if isinstance(r.content_hash, str) else None,
        asserted=bool(r.asserted),
        origin_tx=int(getattr(r, "origin_tx", 0) or 0),
        legacy_hash=_tolerant_bool(getattr(r, "legacy_hash", None)),
    )


def _tolerant_bool(v) -> bool:
    """Missing/NULL/NaN (pre-column state rows of unknown provenance)
    reads as True — the tolerant legacy-fallback default; real booleans
    pass through."""
    if v is None or (isinstance(v, float) and v != v):
        return True
    return bool(v)


def _history_cols(eid: str, history: list[Version]) -> dict[str, list]:
    return {
        "eid": [eid] * len(history),
        "valid_from": [v.valid_from for v in history],
        "valid_to": [v.valid_to for v in history],
        "tx_from": [v.tx_from for v in history],
        "tx_to": [v.tx_to for v in history],
        "tx_time": [v.tx_time for v in history],
        "doc_json": [v.doc_json for v in history],
        "deleted": [v.deleted for v in history],
        "content_hash": [v.content_hash for v in history],
        "asserted": [v.asserted for v in history],
        "origin_tx": [v.origin_tx for v in history],
        "legacy_hash": [v.legacy_hash for v in history],
    }


def _bucketed_cogroup(
    versions: DataFrame, ops_df: DataFrame, per_eid, out_schema, nbuckets: int
):
    """Cogroup versions and ops on a HASH BUCKET of eid (not eid itself)
    and loop entities inside each bucket in plain python.

    Rationale: pyspark's cogrouped applyInPandas pays per-GROUP Arrow +
    Python-call overhead; with one group per entity that overhead is
    ~10x the splice work itself (measured: 1,500 per-eid groups = 11.4s
    vs 32 buckets = 1.1s on the same 20k ops). Bucketing keeps the
    shuffle key stable (hash(eid) pmod N — co-partitioned with a
    bucketed-by-eid versions layout at scale). Inside a bucket, ONE
    pandas sort + itertuples pass builds per-entity op/history lists —
    no per-entity DataFrame slicing, which measured as the next 2x.

    ``per_eid(eid, history_list, op_rows)`` returns a dict-of-lists in
    out_schema's columns; op_rows arrive sorted by (tx_id, seq)."""
    b = F.pmod(F.hash("eid"), F.lit(nbuckets))

    def bucket_fn(key, vpdf: pd.DataFrame, opdf: pd.DataFrame) -> pd.DataFrame:
        hist_by: dict[str, list[Version]] = {}
        for r in vpdf.itertuples():
            hist_by.setdefault(r.eid, []).append(_row_to_version(r))
        ops_by: dict[str, list] = {}
        if len(opdf):
            for r in opdf.sort_values(["eid", "tx_id", "seq"]).itertuples():
                ops_by.setdefault(r.eid, []).append(r)
        cols: dict[str, list] = {f.name: [] for f in out_schema.fields}
        for eid in sorted(set(hist_by) | set(ops_by)):
            out = per_eid(eid, hist_by.get(eid, []), ops_by.get(eid, []))
            for k, v in out.items():
                cols[k].extend(v)
        return pd.DataFrame(cols)

    return (
        versions.withColumn("__b", b)
        .groupBy("__b")
        .cogroup(ops_df.withColumn("__b", b).groupBy("__b"))
        .applyInPandas(bucket_fn, out_schema)
    )


def _bulk_put_versions(ops: DataFrame) -> DataFrame:
    """Closed-form version rows for a fresh-entity, strictly-ordered,
    unranged put stream (apply_ops_df's all-fresh frames, commit()'s first
    batch). A null valid_from is the put's tx_time, as the splice
    stores it. Per entity with puts at v_1 < ... < v_n (tx
    t_1 < ... < t_n), the per-op splice yields exactly:

      i < n:  ([v_i, inf)  tx [t_i, t_{i+1})  asserted)     — closed
              ([v_i, v_{i+1})  tx [t_{i+1}, inf)  unasserted) — remainder
      i = n:  ([v_n, inf)  tx [t_n, inf)  asserted)          — active

    with tx_time/origin_tx/doc/content-hash all from op i. Two lead()
    windows + a vectorized doc-normalization UDF (stored doc_json is the
    sorted-keys Python re-dump and content_hash its sha1, byte-identical
    to splice.py's) — no per-op Python splice, which is O(n^2) in an
    entity's version count."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<doc_json:string, content_hash:string>")
    def norm(doc: pd.Series) -> pd.DataFrame:
        import hashlib

        outs, hs = [], []
        for s in doc:
            d = json.dumps(json.loads(s), sort_keys=True, default=str)
            outs.append(d)
            hs.append(hashlib.sha1(d.encode()).hexdigest())
        return pd.DataFrame({"doc_json": outs, "content_hash": hs})

    # Hash/provenance parity with the per-op splice (splice.py:203-218):
    # an explicitly-passed submit-time hash (a content_hash column, the
    # WAL's immutable identity — stable across evict redaction) wins
    # over recomputation, and a NULL cell marks the hash as BACK-
    # COMPUTED (legacy_hash=True -> tolerant CAS fallback). When the
    # column is ABSENT the caller asserts the docs are born typed and
    # canonical at ingest (bulk_ingest builds doc_json itself), so the
    # computed hash IS the submit-time hash: legacy_hash=False.
    has_hash_col = "content_hash" in ops.columns
    ops = ops.withColumn("valid_from", F.coalesce("valid_from", "tx_time"))
    w = Window.partitionBy("eid").orderBy("tx_id", "seq")
    base = ops.select(
        "eid", "tx_id", "tx_time", "valid_from",
        norm(F.col("doc_json")).alias("__n"),
        (F.col("content_hash") if has_hash_col
         else F.lit(None).cast("string")).alias("__ch"),
        F.lead("tx_id").over(w).alias("__nt"),
        F.lead("valid_from").over(w).alias("__nv"),
    )
    chash = F.coalesce(F.col("__ch"), F.col("__n.content_hash"))
    legacy = F.col("__ch").isNull() if has_hash_col else F.lit(False)

    # ONE pass (r15 optimization): the asserted row and the remainder row
    # derive from the same base projection — as a union of two selects,
    # Catalyst executed the scan + eid-window + norm UDF once per BRANCH
    # (two shuffles, two ArrowEvalPython nodes over the full ops).
    # Emitting both rows per input row with an inline explode keeps a
    # single window shuffle and a single UDF evaluation; row content is
    # identical (versions is an unordered relation downstream).
    def _ver(valid_to, tx_from, tx_to, is_asserted):
        return F.struct(
            F.col("valid_from").alias("valid_from"),
            valid_to.alias("valid_to"),
            tx_from.alias("tx_from"),
            tx_to.alias("tx_to"),
            F.col("tx_time").alias("tx_time"),
            F.col("__n.doc_json").alias("doc_json"),
            F.lit(False).alias("deleted"),
            chash.alias("content_hash"),
            F.lit(is_asserted).alias("asserted"),
            F.col("tx_id").alias("origin_tx"),
            legacy.alias("legacy_hash"),
        )

    asserted = _ver(
        F.lit(END_OF_TIME),
        F.col("tx_id"),
        F.coalesce("__nt", F.lit(END_OF_TX)),
        True,
    )
    remainder = _ver(
        F.col("__nv"), F.col("__nt"), F.lit(END_OF_TX), False
    )
    return base.select(
        "eid",
        F.explode(
            F.when(
                F.col("__nt").isNotNull(), F.array(asserted, remainder)
            ).otherwise(F.array(asserted))
        ).alias("__v"),
    ).select("eid", "__v.*")


def _apply_ops(history: list[Version], op_rows: list, aborted: set[int]):
    """Apply op rows (pre-sorted by tx_id, seq) to one entity's history;
    returns (new_history, [(tx_id, match_ok)])."""
    verdicts = []
    for r in op_rows:
        if int(r.tx_id) in aborted:
            continue
        op = r.op
        vf = None if pd.isna(r.valid_from) else int(r.valid_from)
        vt = None if pd.isna(r.valid_to) else int(r.valid_to)
        if op == "put":
            doc = json.loads(r.doc_json)
            if hasattr(r, "content_hash"):
                stored_hash = r.content_hash
                if not isinstance(stored_hash, str):
                    stored_hash = None  # legacy rows / NaN from pandas
            else:
                # no content_hash column: the frame's docs were built at
                # ingest (bulk_ingest), so the computed hash IS the
                # submit-time hash — _bulk_put_versions' rule
                stored_hash = splice.content_hash(doc)
            history = splice.put(
                history, doc, int(r.tx_id), int(r.tx_time),
                vf, vt, chash=stored_hash,
            )
        elif op == "delete":
            history = splice.delete(history, int(r.tx_id), int(r.tx_time), vf, vt)
        elif op == "evict":
            history = splice.evict(history)
        elif op == "match":
            expected = None if r.expected_json is None or (
                not isinstance(r.expected_json, str)
            ) else json.loads(r.expected_json)
            expected_hash = getattr(r, "expected_hash", None)
            if not isinstance(expected_hash, str):
                expected_hash = None
            at = vf if vf is not None else int(r.tx_time)
            # evaluate at tx_id (not tx_id - 1): ops are applied in
            # (tx_id, seq) order, so `history` already carries THIS tx's
            # earlier splices and the match sees the in-flight state
            # (query_test.clj:1912 "match sees interim state through the
            # transaction"); for a match with no prior in-tx ops the two
            # views are identical
            ok = splice.matches(
                history, expected, at, tx=int(r.tx_id),
                expected_hash=expected_hash,
            )
            verdicts.append((int(r.tx_id), ok))
        else:
            raise ValueError(f"unknown op {op!r}")
    return history, verdicts



# Bounds of the entity-history cache (TxStore._histories): the
# reference's entity cache holds 32K entries (query.clj:1546-1552); the
# byte cap is on the summed doc_json length of the cached histories.
ENTITY_CACHE_MAX_ENTRIES = 32_768
ENTITY_CACHE_MAX_BYTES = 64 << 20


def _is_evict_tombstone(doc_json: str) -> bool:
    """True iff the json body IS a compact_wal evict tombstone — checked
    structurally (exact tombstone shape), not by substring, so a user doc
    that merely CONTAINS a "crux.db/evicted" key is still redacted by a
    later evict (retention would otherwise silently skip it)."""
    try:
        d = json.loads(doc_json)
    except ValueError:
        return False
    return (
        isinstance(d, dict)
        and d.get("crux.db/evicted") is True
        and set(d) <= {"crux.db/evicted", "crux.db/content-hash"}
    )


def _locked(fn):
    """Serialize store mutations against checkpoint snapshots: a
    Checkpointer tick racing submit_tx/commit could otherwise record a
    versions table containing txs newer than its tx_id watermark, which
    restore_latest's WAL-tail replay would then re-apply (duplicate
    version rows). RLock: commit() may run nested under submit_tx paths."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._mutex:
            return fn(self, *args, **kwargs)

    return wrapper


# db()'s columns; db_of builds the same rows on the driver
_DB_COLS = ("eid", "doc_json", "valid_from", "valid_to", "tx_from", "content_hash")
_DB_SCHEMA = T.StructType([VERSIONS_SCHEMA[c] for c in _DB_COLS])


def _vt_us(valid_time: dt.datetime | None) -> int:
    """A read's valid time in micros; none means now."""
    return to_us(valid_time) if valid_time else to_us(
        dt.datetime.now(dt.timezone.utc)
    )


def _tx_basis(tx: int | None) -> int:
    """A read's tx basis; none means every committed tx."""
    return tx if tx is not None else END_OF_TX - 1


def canon_eid(x) -> str:
    """Canonical string form of an entity id. Map (and collection) ids
    hash by VALUE, independent of key order (tx_test.clj
    map-ordering-362; api_test test-can-write-entity-using-map-as-id) —
    JSON with sorted keys; scalars stringify directly."""
    if isinstance(x, (dict, list, tuple)):
        return json.dumps(x, sort_keys=True, default=str)
    return str(x)

class TxStore:
    """In-session bitemporal store over a versions DataFrame.

    ``path``-backed persistence writes parquet partitioned by eid-hash
    bucket; in-memory mode keeps a localCheckpointed DataFrame.
    """

    def __init__(
        self,
        spark: SparkSession,
        versions: DataFrame | None = None,
        wal_path: str | None = None,
        doc_store=None,
    ):
        self.spark = spark
        # eid -> (history, summed doc_json length), least recently used
        # first; see _histories. _cache_gen counts versions assignments,
        # so a fill that raced one is dropped.
        self._cache_lock = threading.Lock()
        self._cache: collections.OrderedDict[
            str, tuple[tuple[Version, ...], int]
        ] = collections.OrderedDict()
        self._cache_bytes = 0
        self._cache_gen = 0
        self._cache_counts = {"hits": 0, "misses": 0, "evictions": 0}
        self.versions = versions or spark.createDataFrame([], VERSIONS_SCHEMA)
        # True only while the store PROVABLY holds zero version rows: set
        # at construction-without-versions, cleared by every versions
        # assignment. Lets commit() route an all-fresh all-put first
        # batch through the closed-form bulk splice with NO probe job
        # (the driver can verify every other precondition from _pending
        # itself).
        self._versions_empty = versions is None
        self._mutex = threading.RLock()  # see _locked / snapshot()
        # tx-id counter. A versions frame passed WHOLESALE to the public
        # constructor may already hold tx ids, and bulk_ingest no longer
        # runs a post-merge max(tx_from) aggregate to self-heal that
        # case (r15 advice) — so the counter is seeded LAZILY from
        # max(tx_from) on first read (one aggregate, once); every other
        # construction path (load/recover/fork/checkpoint) assigns
        # _tx_id directly, which marks it seeded with no probe.
        self._tx_id_v = 0
        self._tx_seeded = versions is None
        self._pending: list[dict] = []
        self._pending_aborted: set[int] = set()  # fn-returned-false txs
        self._tx_fns: dict[str, Callable] = {}
        # secondary-index listeners fed one committed-rows OPS_SCHEMA
        # batch per commit() (register-index! analogue; see commit())
        self.index_listeners: list[Callable] = []
        self._index_epoch: int = 0
        # eids of SQL table-registry docs (SCHEMA_DOC_ATTR). None =
        # unknown (versions arrived wholesale — load()/fork with
        # pre-existing data); schema_doc_eids() re-seeds with ONE
        # discovery scan, after which maintenance is incremental.
        self._schema_eids: set[str] | None = (
            set() if versions is None else None
        )
        self.aborted_txs: set[int] = set()
        # write-ahead log: submitted txs are appended (already fn-expanded,
        # so replay is deterministic without re-registering tx fns) before
        # they are applied — the durable totally-ordered tx-log of the
        # reference (crux-core/src/crux/kv/tx_log.clj). Transport is
        # pluggable (txlog.py): a plain path = JSONL file/object-store
        # key; 'sqlite:<path>' = the crux-jdbc analogue (one tx_log SQL
        # table, jdbc.clj); or any TxLogBackend instance.
        self.wal_path = wal_path
        # content-addressed doc store (db.clj DocumentStore): same
        # pluggable-transport seam as the WAL — a plain path = JSONL
        # (S3/blob analogue), 'sqlite:<path>' = crux-jdbc analogue, or
        # any backend object. When configured, submitted docs are
        # persisted there at submit time (the reference writes docs to
        # the doc store BEFORE the tx log) and `documents()` reads it.
        self.doc_store = doc_store

    @property
    def versions(self) -> DataFrame:
        return self._versions

    @versions.setter
    def versions(self, df: DataFrame) -> None:
        self._set_versions(df)

    def _set_versions(
        self, df: DataFrame, spliced: dict[str, list[Version]] | None = None
    ) -> None:
        """Replace the versions table. A plain assignment clears the
        entity cache. ``spliced`` (eid -> its full history in ``df``)
        says ``df`` differs from the old table only in those eids' rows:
        the other entries stay valid and these are written over. One
        step under the cache lock, so no reader pairs the new table with
        an old cache generation."""
        with self._cache_lock:
            self._versions = df
            self._versions_empty = False
            self._cache_gen += 1
            if spliced is None:
                self._cache.clear()
                self._cache_bytes = 0
            for eid, hist in (spliced or {}).items():
                self._cache_put(eid, tuple(hist))

    def _cache_put(self, eid: str, hist: tuple[Version, ...]) -> None:
        """Insert as most recently used, evicting from the other end
        past either bound (caller holds _cache_lock). A history larger
        than the byte cap is not cached."""
        size = sum(len(v.doc_json or "") for v in hist)
        old = self._cache.pop(eid, None)
        if old is not None:
            self._cache_bytes -= old[1]
        if size > ENTITY_CACHE_MAX_BYTES:
            return
        self._cache[eid] = (hist, size)
        self._cache_bytes += size
        while (
            len(self._cache) > ENTITY_CACHE_MAX_ENTRIES
            or self._cache_bytes > ENTITY_CACHE_MAX_BYTES
        ):
            _, (_, dropped) = self._cache.popitem(last=False)
            self._cache_bytes -= dropped
            self._cache_counts["evictions"] += 1

    def _histories(self, eids: Iterable[str]) -> dict[str, tuple[Version, ...]]:
        """Full version history of each eid (empty for an eid with no
        rows) — the rows ``versions`` holds for it. Hits come from the
        cache; all misses are fetched in ONE job (a pushed-down eid IN
        filter) and cached, unless ``versions`` was reassigned while
        that job ran (the read holds no store mutex)."""
        out: dict[str, tuple[Version, ...]] = {}
        misses: list[str] = []
        with self._cache_lock:
            for eid in dict.fromkeys(eids):
                hit = self._cache.get(eid)
                if hit is None:
                    misses.append(eid)
                else:
                    self._cache.move_to_end(eid)
                    out[eid] = hit[0]
            self._cache_counts["hits"] += len(out)
            self._cache_counts["misses"] += len(misses)
            gen, versions = self._cache_gen, self._versions
            empty = self._versions_empty
        if not misses:
            return out
        fetched: dict[str, list[Version]] = {e: [] for e in misses}
        if not empty:
            for r in self._fetch_histories(versions, misses):
                fetched[r.eid].append(_row_to_version(r))
        with self._cache_lock:
            keep = self._cache_gen == gen
            for eid, hist in fetched.items():
                out[eid] = tuple(hist)
                if keep:
                    self._cache_put(eid, out[eid])
        return out

    @staticmethod
    def _fetch_histories(versions: DataFrame, eids: list[str]) -> list:
        return versions.filter(F.col("eid").isin(eids)).collect()

    def entity_cache_stats(self) -> dict[str, int]:
        """Entity-history cache counters: hits and misses (per eid
        looked up), evictions, and the current entries and bytes
        (summed doc_json length)."""
        with self._cache_lock:
            return {
                **self._cache_counts,
                "entries": len(self._cache),
                "bytes": self._cache_bytes,
            }

    @property
    def _tx_id(self) -> int:
        if not self._tx_seeded:
            self._tx_seeded = True
            row = self.versions.agg(F.max("tx_from").alias("m")).first()
            self._tx_id_v = max(self._tx_id_v, int(row["m"] or 0))
        return self._tx_id_v

    @_tx_id.setter
    def _tx_id(self, v: int) -> None:
        self._tx_seeded = True
        self._tx_id_v = int(v)

    @property
    def doc_store(self):
        return self._doc_store_spec

    @doc_store.setter
    def doc_store(self, spec) -> None:
        from crux_spark.bitemporal.docstore import open_doc_store

        self._doc_store_spec = spec
        self._docs = open_doc_store(spec)

    @property
    def wal_path(self):
        return self._wal_spec

    @wal_path.setter
    def wal_path(self, spec) -> None:
        from crux_spark.bitemporal.txlog import open_tx_log

        self._wal_spec = spec
        self._wal = open_tx_log(spec)

    # ------------------------------------------------------------- write API

    def register_tx_fn(self, name: str, fn: Callable) -> None:
        """Store a transaction function (tx.clj:178-227): fn(db, *args) ->
        list of ops, evaluated deterministically at submit time."""
        self._tx_fns[name] = fn

    @_locked
    def submit_tx(self, ops: Iterable[Any], tx_time: dt.datetime | None = None) -> int:
        """Queue one transaction. Ops (python analogue of the EDN tx ops):
            ("put", doc, valid_from?, valid_to?)         doc must carry "id"
            ("delete", eid, valid_from?, valid_to?)
            ("match", eid, expected_doc_or_None, at_vt?)
            ("evict", eid)
            ("fn", name, *args)
        Returns the tx_id (valid after commit()).
        """
        self._tx_id += 1
        tx_id = self._tx_id
        tx_us = to_us(tx_time) if tx_time else to_us(dt.datetime.now(dt.timezone.utc))
        seq = 0
        expanded: list[tuple] = []
        aborted_by_fn = False
        # worklist so a tx fn may emit FURTHER fn ops (replay_test.clj
        # "nested tx-fn": put-bob-and-ivan emits [:crux.tx/fn :put-ivan]) —
        # emitted ops splice in place of the fn op, in order
        queue: list = list(ops)
        while queue:
            op = queue.pop(0)
            if op[0] == "fn":
                fn = self._tx_fns.get(op[1])
                if fn is None:
                    # the reference resolves tx fns at INDEX time; an
                    # unknown fn fails the tx, it does not fail submit
                    # (replay_test.clj "failed tx-fn": [:crux.tx/fn
                    # :put-petr ...] -> aborted tx, later txs fine)
                    aborted_by_fn = True
                    break
                # the fn sees earlier ops of THIS tx applied
                # (tx_test.clj:713 tx-fn-sees-in-tx-query-results):
                # speculative fork carrying the expansion so far
                ctx = self.with_tx(expanded, tx_time) if expanded else self
                try:
                    res = fn(ctx, *op[2:])
                except Exception:
                    # a throwing tx fn aborts the tx (tx.clj:218-227
                    # logs and fails the tx), never the submit
                    aborted_by_fn = True
                    break
                if res is None:
                    # nil return = no-op, tx continues (tx_test.clj:760)
                    continue
                if res is False:
                    # false return aborts the WHOLE tx (tx_test.clj:760)
                    aborted_by_fn = True
                    break
                queue = list(res) + queue
            elif op[0] == "cas":
                # legacy compare-and-swap (tx.clj:113-130) = match + put
                _, eid, old_doc, new_doc = op[0], op[1], op[2], op[3]
                at = op[4] if len(op) > 4 else None
                expanded.append(("match", eid, old_doc, at))
                expanded.append(("put", new_doc) if at is None else ("put", new_doc, at))
            else:
                expanded.append(op)
        if aborted_by_fn:
            self.aborted_txs.add(tx_id)
            self._pending_aborted.add(tx_id)
            if self._wal is not None:
                # the submitted-but-failed tx still occupies its slot in
                # the durable log (the reference's log is written before
                # indexing decides the verdict) so replay reproduces the
                # abort and the id sequence (replay_test.clj failed-tx-fn)
                self._wal.append({"tx_id": tx_id, "rows": [], "aborted": True})
            return tx_id
        tx_rows: list[dict] = []  # this tx's rows — avoids rescanning the
        # whole _pending backlog per submit (O(n^2) for long-running
        # write-only clients that never commit/drain)
        for op in expanded:
            kind = op[0]
            row = {
                "tx_id": tx_id,
                "seq": seq,
                "op": kind,
                "tx_time": tx_us,
                "doc_json": None,
                "expected_json": None,
                "content_hash": None,
                "expected_hash": None,
                "valid_from": None,
                "valid_to": None,
            }
            if kind == "put":
                doc = op[1]
                if "id" not in doc:
                    raise ValueError("put doc must carry an 'id' (:crux.db/id)")
                row["eid"] = canon_eid(doc["id"])
                # typed-encode (docjson sidecar): datetimes/Decimals/
                # codec wrapper classes survive the entity() round trip
                # like the reference's EDN docs; value bytes stay the
                # legacy stringified forms for from_json DDL consumers
                # content_hash(doc) IS sha1(doc_dumps(doc)) — hash the
                # string just built instead of re-serializing the doc
                # (r16: doc_dumps was the dominant submit cost and ran
                # twice per put; ~35% off a 25k-doc submit phase)
                row["doc_json"] = _docjson.doc_dumps(doc)
                row["content_hash"] = hashlib.sha1(
                    row["doc_json"].encode()
                ).hexdigest()
                if len(op) > 2 and op[2] is not None:
                    row["valid_from"] = to_us(op[2])
                if len(op) > 3 and op[3] is not None:
                    row["valid_to"] = to_us(op[3])
            elif kind in ("delete", "evict"):
                row["eid"] = canon_eid(op[1])
                if kind == "delete":
                    if len(op) > 2 and op[2] is not None:
                        row["valid_from"] = to_us(op[2])
                    if len(op) > 3 and op[3] is not None:
                        row["valid_to"] = to_us(op[3])
            elif kind == "match":
                row["eid"] = canon_eid(op[1])
                if op[2] is not None:
                    row["expected_json"] = _docjson.doc_dumps(op[2])
                    row["expected_hash"] = hashlib.sha1(
                        row["expected_json"].encode()
                    ).hexdigest()
                if len(op) > 3 and op[3] is not None:
                    row["valid_from"] = to_us(op[3])
            else:
                raise ValueError(f"unknown op {kind!r}")
            self._pending.append(row)
            tx_rows.append(row)
            seq += 1
        if self._docs is not None:
            # docs (incl. match-expected docs — they're content-addressed
            # args too) reach the doc store at submit time, before the
            # log entry, mirroring the reference's write order
            batch: dict[str, tuple] = {}
            for r in tx_rows:
                if r["content_hash"] and r["doc_json"]:
                    batch[r["content_hash"]] = (
                        r["eid"], json.loads(r["doc_json"])
                    )
                if r["expected_hash"] and r["expected_json"]:
                    batch[r["expected_hash"]] = (
                        r["eid"], json.loads(r["expected_json"])
                    )
            self._docs.submit_docs(batch)
        if self._wal is not None:
            self._wal.append({"tx_id": tx_id, "rows": tx_rows})
        return tx_id

    @_locked
    def commit(self) -> set[int]:
        """Apply all pending txs; returns the set of aborted tx_ids
        (match failures and fn-returned-false aborts alike)."""
        fn_aborted, self._pending_aborted = self._pending_aborted, set()
        if not self._pending:
            return fn_aborted
        if self._versions_empty and self._commit_fast_path_ok():
            # Into an empty store, a batch of unranged puts with strictly
            # increasing per-entity (tx, effective valid-from) has the
            # same closed form as apply_ops_df's all-fresh frames (guide
            # §1.2): two lead() windows and the norm UDF instead of the
            # per-op Python splice, row-identical to it
            # (test_commit_fast_path_equivalence). The batch shape is
            # checked driver-side from _pending, so no probe job runs.
            self.versions = _bulk_put_versions(
                self._ops_frame(self._pending)
            ).localCheckpoint()
            aborted: set[int] = set()
        else:
            aborted = self._splice_touched(self._pending)
        # SQL registry docs are visible driver-side here (cheap string
        # check per pending op), so the side-set stays incremental. This
        # also covers recover(), which splices WAL rows straight into
        # _pending. Superset on purpose: an aborted tx's eid in the
        # side-set just means one extra pruned-read candidate.
        if self._schema_eids is not None:
            self._schema_eids = self._schema_eids | {
                r["eid"] for r in self._pending
                if r.get("doc_json") and _SCHEMA_NEEDLE in r["doc_json"]
            }
        if self._docs is not None:
            # COMMITTED evicts tombstone the entity's docs in the doc
            # store (an evict inside an aborted tx never happened). Docs
            # referenced at-or-after the evict position in THIS batch
            # survive — a recover() replays the whole history as one
            # batch and must preserve post-evict re-puts exactly like
            # the live incremental run did (the reference keys eviction
            # on the content hashes referenced BEFORE the evict).
            evict_pos: dict[str, tuple[int, int]] = {}
            for r in self._pending:
                if r["op"] == "evict" and r["tx_id"] not in aborted:
                    p = (r["tx_id"], r["seq"])
                    if p > evict_pos.get(r["eid"], (-1, -1)):
                        evict_pos[r["eid"]] = p
            if evict_pos:
                keep: dict[str, set] = {e: set() for e in evict_pos}
                for r in self._pending:
                    e = r.get("eid")
                    if (
                        e in evict_pos
                        and r["tx_id"] not in aborted
                        and (r["tx_id"], r["seq"]) > evict_pos[e]
                    ):
                        for k in ("content_hash", "expected_hash"):
                            if r.get(k):
                                keep[e].add(r[k])
                for e in evict_pos:
                    self._docs.evict_eid(e, keep_hashes=keep[e])
        pending_rows, self._pending = self._pending, []
        all_aborted = aborted | fn_aborted
        # registered secondary indexes (the reference's register-index!
        # seam, crux-core/src/crux/tx.clj:400-410) get ONE committed-rows
        # batch per commit — aborted txs index nothing. Same listener
        # contract as TxLogStream, so IncrementalTextIndex /
        # IncrementalVectorIndex plug into either path unchanged.
        if self.index_listeners:
            committed_rows = [
                r for r in pending_rows if int(r["tx_id"]) not in aborted
            ]
            committed = self._ops_frame(committed_rows)
            # the committed batch's max tx id is known DRIVER-side here —
            # handing it down saves every watermark-keeping listener a
            # full extra pass over the batch (listeners that don't take
            # the kwarg keep the old two-arg call)
            mx_committed = max(
                (int(r["tx_id"]) for r in committed_rows), default=None
            )
            self._index_epoch += 1
            for fn in list(self.index_listeners):
                _call_listener(fn, self._index_epoch, committed, mx_committed)
        return all_aborted

    def _ops_frame(self, rows: list[dict]) -> DataFrame:
        """Driver-side op rows as an OPS_SCHEMA frame. Arrow path (r15
        optimization, guide §4/§6): a pandas frame crosses the
        Python->JVM boundary as Arrow batches; the list-of-tuples form
        pickles row by row (measured 2-5x slower for a 25k-op commit).
        Column-wise dict avoids a per-row tuple pass; object dtype keeps
        None as a real null for Arrow."""
        return self.spark.createDataFrame(
            pd.DataFrame(
                {f.name: [r.get(f.name) for r in rows] for f in OPS_SCHEMA.fields},
                dtype=object,
            ),
            OPS_SCHEMA,
        )

    def _splice_touched(self, rows: list[dict]) -> set[int]:
        """Apply driver-side op rows by splicing only the histories they
        touch; returns the match-aborted tx ids.

        The touched entities' histories come from _histories (one job
        collects the uncached ones through a pushed-down eid IN filter;
        none runs when all are cached); the driver applies the batch tx
        by tx with _apply_ops, keeping a tx's splices only when every
        one of its matches holds — the reference's serial ingest
        (tx.clj:424-479), so an abort is final the moment it is seen
        and no verdict fixpoint is needed. One more job writes the
        untouched rows back with the new histories, which then replace
        the touched entries of the entity cache (the untouched ones stay
        valid). The driver holds only the touched histories,
        which apply_ops_df's cogroup would load into one Python worker
        per bucket anyway."""
        eids = sorted({r["eid"] for r in rows})
        hist_by = {e: list(h) for e, h in self._histories(eids).items()}
        by_tx: dict[int, dict[str, list]] = {}
        for r in sorted(
            rows, key=lambda r: (int(r["tx_id"]), int(r.get("seq") or 0))
        ):
            op = _OpRow(*(r.get(f) for f in _OpRow._fields))
            by_tx.setdefault(int(r["tx_id"]), {}).setdefault(
                r["eid"], []
            ).append(op)
        aborted: set[int] = set()
        for tx_id, ops_by_eid in by_tx.items():
            spliced = {}
            for eid, op_rows in ops_by_eid.items():
                hist, verdicts = _apply_ops(hist_by[eid], op_rows, set())
                if not all(ok for _, ok in verdicts):
                    aborted.add(tx_id)
                    break
                spliced[eid] = hist
            else:
                hist_by.update(spliced)
        cols: dict[str, list] = {f.name: [] for f in VERSIONS_SCHEMA.fields}
        for eid, hist in hist_by.items():
            for k, v in _history_cols(eid, hist).items():
                cols[k].extend(v)
        new = self.spark.createDataFrame(pd.DataFrame(cols), VERSIONS_SCHEMA)
        if not self._versions_empty:
            # createDataFrame adds its own partitions; without the
            # coalesce every commit would grow the table by that many,
            # and each point read pays per partition
            n_parts = self.versions.rdd.getNumPartitions()
            new = (
                self.versions.filter(~F.col("eid").isin(eids))
                .unionByName(new)
                .coalesce(n_parts)
            )
        self._set_versions(new.localCheckpoint(), hist_by)
        self.aborted_txs |= aborted
        return aborted

    def _commit_fast_path_ok(self) -> bool:
        """Driver-side eligibility of the pending batch for the closed-
        form first-commit splice: every row an unranged put (no match /
        delete / evict / valid_to / expected), and per entity the
        (tx_id, effective valid_from) sequence strictly increasing in
        (tx_id, seq) order — the exact precondition apply_ops_df's probe
        verifies distributively, checkable here for free because
        _pending is already driver-resident."""
        last: dict[str, tuple[int, int]] = {}
        try:
            rows = sorted(
                self._pending,
                key=lambda r: (int(r["tx_id"]), int(r.get("seq") or 0)),
            )
        except (KeyError, TypeError, ValueError):
            return False  # malformed/legacy rows -> _splice_touched handles them
        for r in rows:
            # .get() throughout: recover() splices raw WAL dicts into
            # _pending, which may omit optional keys entirely
            if (
                r.get("op") != "put"
                or r.get("valid_to") is not None
                or r.get("expected_json") is not None
                or r.get("doc_json") is None
                or r.get("tx_time") is None
                or r.get("eid") is None
            ):
                return False
            vf = r.get("valid_from")
            vf = int(vf) if vf is not None else int(r["tx_time"])
            prev = last.get(r["eid"])
            if prev is not None and (int(r["tx_id"]) <= prev[0] or vf <= prev[1]):
                return False
            last[r["eid"]] = (int(r["tx_id"]), vf)
        return True

    def apply_ops_df(self, ops_df: DataFrame) -> set[int]:
        """Apply an op frame (OPS_SCHEMA; bulk_ingest's frame omits the
        hash columns) and return the match-aborted tx ids — the write
        path for ops that are not on the driver (bulk_ingest, streaming
        micro-batches; tx.clj:424-479's serial ingest, distributed
        across entities). commit(), whose ops are already driver-side,
        splices only the touched histories instead (_splice_touched).

        One probe job answers the routing: the max tx id (advances the
        tx counter), whether a match is present, whether any op targets
        an eid with history (no join into a provably empty store) and
        whether every op is an unranged put with strictly increasing
        (tx, effective valid-from) per eid. A frame of such puts on
        fresh eids only takes the closed form (_bulk_put_versions,
        row-identical to the per-op splice, which is O(n^2) in an
        entity's history); any other frame runs the cogroup over the
        histories of the eids it names. Only the probe row, match
        verdicts (tx ids) and — for a match-carrying batch — its
        distinct (tx, eid) pairs reach the driver."""
        return self._apply_frame(ops_df)[0]

    def _apply_frame(self, ops_df: DataFrame) -> tuple[set[int], int | None]:
        """apply_ops_df, also returning the frame's max tx id (None for
        an empty frame, which changes nothing) for the streaming
        ingester's listeners."""
        stats = self._probe_ops(
            ops_df, None if self._versions_empty else self.versions
        )
        if stats["max_tx"] is None:
            return set(), None
        aborted: set[int] = set()
        if stats["n_match"] or stats["n_bad"] or stats["n_existing"]:
            # the cogroup splices only the frame's eids; every other
            # entity's rows pass through untouched
            eids = ops_df.select("eid")
            hist = self.versions.join(eids, "eid", "left_semi")
            if stats["n_match"]:
                aborted = self._match_aborts(hist, ops_df)
            new = self.versions.join(eids, "eid", "left_anti").unionByName(
                self._cogroup_apply(hist, ops_df, aborted)
            )
        elif self._versions_empty:
            # the closed form is the whole table: a union with the empty
            # relation would only add its partitions
            new = _bulk_put_versions(ops_df)
        else:
            new = self.versions.unionByName(_bulk_put_versions(ops_df))
        # a union has the partitions of both sides; without the coalesce
        # every frame would grow the table, and each read pays per partition
        n_parts = max(self.versions.rdd.getNumPartitions(), self._nbuckets())
        self.versions = new.coalesce(n_parts).localCheckpoint()
        self.aborted_txs |= aborted
        max_tx = int(stats["max_tx"])
        # new rows carry only the frame's tx ids; an unseeded counter
        # still takes max(tx_from) over the table on first read
        self._tx_id_v = max(self._tx_id_v, max_tx)
        # a distributed ops frame may carry registry docs this driver
        # never saw — invalidate the side-set; schema_doc_eids() re-seeds
        # on demand
        self._schema_eids = None
        return aborted, max_tx

    @staticmethod
    def _probe_ops(ops_df: DataFrame, versions: DataFrame | None):
        """The one probe row of apply_ops_df: max_tx, n_match,
        n_existing (ops on eids with rows in ``versions``) and n_bad
        (ops that break the closed form's precondition)."""
        if versions is None:
            probe = ops_df.withColumn("__ex", F.lit(None).cast("int"))
        else:
            probe = ops_df.join(
                versions.select("eid").distinct().withColumn("__ex", F.lit(1)),
                "eid", "left",
            )
        # one small code per op (0 unranged put, 1 match, 2 other), so
        # the window shuffles few columns
        kind = (
            F.when((F.col("op") == "put") & F.col("valid_to").isNull(), 0)
            .when(F.col("op") == "match", 1)
            .otherwise(2)
        )
        w = Window.partitionBy("eid").orderBy("tx_id", "seq")
        probe = probe.select(
            "eid", "tx_id", "seq", "__ex", kind.alias("__k"),
            F.coalesce("valid_from", "tx_time").alias("__vf"),
        ).select(
            "tx_id", "__ex", "__k", "__vf",
            F.lag("tx_id").over(w).alias("__pt"),
            F.lag("__vf").over(w).alias("__pv"),
        )
        out_of_order = F.col("__pt").isNotNull() & (
            (F.col("tx_id") <= F.col("__pt")) | (F.col("__vf") <= F.col("__pv"))
        )
        return probe.agg(
            F.max("tx_id").alias("max_tx"),
            F.count(F.when(F.col("__k") == 1, 1)).alias("n_match"),
            F.count("__ex").alias("n_existing"),
            F.count(F.when((F.col("__k") != 0) | out_of_order, 1)).alias("n_bad"),
        ).first()

    def _cogroup_apply(
        self, hist: DataFrame, ops_df: DataFrame, aborted: set[int]
    ) -> DataFrame:
        """The version rows of ``hist`` with ``ops_df`` spliced in per
        entity, skipping the ops of ``aborted`` txs."""
        final = frozenset(aborted)

        def apply_fn(eid, hist, op_rows):
            hist, _ = _apply_ops(list(hist), op_rows, set(final))
            return _history_cols(eid, hist)

        return _bucketed_cogroup(
            hist, ops_df, apply_fn, VERSIONS_SCHEMA, self._nbuckets()
        )

    def _match_aborts(self, hist: DataFrame, ops_df: DataFrame) -> set[int]:
        """The txs of a match-carrying frame that abort under SERIAL
        semantics (the reference ingests tx-by-tx, tx.clj:424-479): a
        tx's verdict must be computed with the abort set of all EARLIER
        txs final. Abort influence flows strictly forward — skipping an
        aborted tx's ops can only flip verdicts of LATER txs — so each
        round the earliest not-yet-finalized failing tx is definitively
        aborted, while later failures are provisional and recomputed
        next round. This makes batch composition semantically
        invisible: commit(A;B) == commit(A);commit(B).

        Abort influence travels only through SHARED entities, so txs in
        disjoint connected entity groups cannot affect each other: each
        round finalises the earliest failing tx of EVERY group, and
        rounds = (aborts in the largest dependent group) + 1. The groups
        come from the frame's distinct (tx, eid) pairs, held on the
        driver. ``hist`` holds the version rows of the frame's eids."""
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        pairs = ops_df.select("tx_id", "eid").distinct().collect()
        for r in pairs:
            rt, re_ = find(("t", int(r.tx_id))), find(("e", r.eid))
            if rt != re_:
                parent[rt] = re_
        group = {int(r.tx_id): find(("t", int(r.tx_id))) for r in pairs}

        def make_eval_fn(ab: frozenset):
            def eval_fn(eid, hist, op_rows):
                _, verdicts = _apply_ops(list(hist), op_rows, set(ab))
                bad = sorted({t for t, ok in verdicts if not ok})
                return {"tx_id": bad, "ok": [False] * len(bad)}

            return eval_fn

        aborted: set[int] = set()
        while True:
            bad_rows = _bucketed_cogroup(
                hist, ops_df, make_eval_fn(frozenset(aborted)),
                MATCH_SCHEMA, self._nbuckets(),
            ).collect()
            new = sorted({r.tx_id for r in bad_rows} - aborted)
            if not new:
                return aborted
            # ascending order → the first hit per group is its earliest
            seen: set = set()
            for t in new:
                if group[t] not in seen:
                    seen.add(group[t])
                    aborted.add(t)

    def _nbuckets(self) -> int:
        try:
            return int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return 32

    def bulk_ingest(
        self,
        df: DataFrame,
        id_expr: str,
        doc_cols: list[str],
        valid_from_col: str,
        tx_id_expr: str | None = None,
    ) -> None:
        """Distributed bulk put-ingest: every input row becomes a put op,
        built entirely as DataFrame expressions (no driver collect — the
        100 TB path) and applied by apply_ops_df. ``tx_id_expr`` must be
        monotone with event order per entity (defaults to the valid-from
        micros, which is exactly the 'valid-time = tx-time' ingestion of
        the reference's ts-weather bench, ts_weather.clj:23). The frame
        carries no content_hash column: its docs are built here, so both
        routes of apply_ops_df stamp their computed hashes as submit-time
        hashes (legacy_hash=False)."""
        vf_type = df.schema[valid_from_col].dataType.typeName()
        if vf_type.startswith("timestamp"):
            # ANSI (Spark 4 default) forbids timestamp→numeric casts, and a
            # vanilla driver session can surface parquet nanos as NTZ;
            # NTZ→LTZ is identity under the catalog-enforced UTC session tz.
            vf_us = F.unix_micros(F.col(valid_from_col).cast("timestamp_ltz"))
        else:
            vf_us = (F.col(valid_from_col).cast("double") * 1_000_000).cast("long")
        tx_id = F.expr(tx_id_expr) if tx_id_expr else vf_us
        # typed-doc sidecar (docjson.py): the tag set is a pure function
        # of the SCHEMA, so it is one constant JSON fragment appended to
        # every row's to_json output — bulk-ingested entities round-trip
        # datetimes/dates/decimals from entity() exactly like op-path
        # puts, with zero per-row Python. Value bytes are to_json's (ISO
        # 'T'/'Z' timestamps — decode normalizes to the store's naive-
        # UTC convention); the canonical sorted re-dump happens in the
        # splice/norm paths as before. Durations are skipped (their
        # sidecar entry carries per-row microseconds).
        type_tags = []
        for c in doc_cols:
            cdt = df.schema[c].dataType
            if isinstance(cdt, (T.TimestampType, T.TimestampNTZType)):
                type_tags.append([[c], "inst"])
            elif isinstance(cdt, T.DateType):
                type_tags.append([[c], "date"])
            elif isinstance(cdt, T.DecimalType):
                type_tags.append([[c], "dec"])
        base = df.withColumn(
            "__dj", F.to_json(F.struct(*[F.col(c) for c in doc_cols]))
        )
        if type_tags:
            type_tags.sort(key=lambda e: json.dumps(e[0]))
            sidecar = f'"{_docjson.TYPES_KEY}": ' + json.dumps(type_tags) + "}"
            # A row whose doc_cols are ALL null serializes as '{}'
            # (to_json ignoreNullFields default) — the comma form would
            # produce malformed '{,"crux.json/types": ...}', crashing
            # the norm UDF / entity() on json.loads. Guard on length.
            doc_json_col = F.when(
                F.length("__dj") > 2,
                F.concat(
                    F.expr("substring(__dj, 1, length(__dj) - 1)"),
                    F.lit("," + sidecar),
                ),
            ).otherwise(F.concat(F.lit("{"), F.lit(sidecar)))
        else:
            doc_json_col = F.col("__dj")
        ops_df = base.select(
            F.expr(id_expr).cast("string").alias("eid"),
            tx_id.alias("tx_id"),
            F.lit(0).alias("seq").cast("long"),
            F.lit("put").alias("op"),
            vf_us.alias("tx_time"),
            doc_json_col.alias("doc_json"),
            F.lit(None).cast("string").alias("expected_json"),
            vf_us.alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
        )
        self.apply_ops_df(ops_df)

    # -------------------------------------------------------------- read API

    def db(self, valid_time: dt.datetime | None = None, tx: int | None = None) -> DataFrame:
        """Snapshot DataFrame (eid, doc_json, interval cols) visible at
        (valid-time, tx) — the reference's `db` value (SURVEY.md §3.1).
        Pure partition-prunable filters, no window needed."""
        vt, tx = _vt_us(valid_time), _tx_basis(tx)
        return self.versions.filter(
            (F.col("valid_from") <= vt)
            & (F.col("valid_to") > vt)
            & (F.col("tx_from") <= tx)
            & (F.col("tx_to") > tx)
            & (~F.col("deleted"))
        ).select(*_DB_COLS)

    def schema_doc_eids(self) -> list[str]:
        """Sorted eids of SQL table-registry docs (docs whose json carries
        SCHEMA_DOC_ATTR). Maintained INCREMENTALLY at write time — the
        attribute is a known key when the put is built — so
        sql.register_tables reads the registry through a pushed-down eid
        IN-filter instead of full-scanning doc_json per registration
        (r9 verdict). After a write that bypasses the driver-side op
        stream (bulk_ingest, a raw apply_ops_df batch, load()), ONE
        discovery scan over the versions store re-seeds the set and
        maintenance goes back to incremental."""
        if self._schema_eids is None:
            rows = (
                self.versions.filter(
                    F.col("doc_json").contains(_SCHEMA_NEEDLE)
                )
                .select("eid")
                .distinct()
                .collect()
            )
            self._schema_eids = {r.eid for r in rows}
        pending = {
            r["eid"] for r in self._pending
            if r.get("doc_json") and _SCHEMA_NEEDLE in r["doc_json"]
        }
        return sorted(self._schema_eids | pending)

    def _visible(
        self, eid, valid_time: dt.datetime | None, tx: int | None
    ) -> Version | None:
        """The version db(valid_time, tx) holds for eid, from the entity
        cache (splice.as_of is db()'s filter over one history)."""
        e = canon_eid(eid)
        return splice.as_of(
            self._histories([e])[e], _vt_us(valid_time), _tx_basis(tx)
        )

    def db_of(
        self, eids: Iterable[str], valid_time: dt.datetime | None = None,
        tx: int | None = None,
    ) -> DataFrame:
        """The rows of db(valid_time, tx) for ``eids`` (canonical ids),
        built on the driver from the entity cache as a local Arrow-backed
        frame: a projection of it collects without a Spark job, and only
        the cache misses cost one."""
        vt, basis = _vt_us(valid_time), _tx_basis(tx)
        vis = [
            (e, v) for e, h in self._histories(eids).items()
            if (v := splice.as_of(h, vt, basis)) is not None
        ]
        return self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "eid": [e for e, _ in vis],
                    **{c: [getattr(v, c) for _, v in vis]
                       for c in _DB_COLS[1:]},
                },
                dtype=object,
            ),
            _DB_SCHEMA,
        )

    def entity(self, eid: str, valid_time: dt.datetime | None = None, tx: int | None = None) -> dict | None:
        v = self._visible(eid, valid_time, tx)
        return None if v is None else _docjson.doc_loads(v.doc_json)

    def entity_tx(
        self, eid: str, valid_time: dt.datetime | None = None, tx: int | None = None
    ) -> dict | None:
        """Transaction metadata of the visible version — the reference's
        `entity-tx` (api.clj entity-tx; index_store.clj:774-795 seek)."""
        v = self._visible(eid, valid_time, tx)
        if v is None:
            return None
        return {
            "eid": canon_eid(eid),
            "tx_id": v.tx_from,
            "valid_from": v.valid_from,
            "valid_to": v.valid_to,
            "content_hash": v.content_hash,
        }

    def tx_at(self, tx_time: dt.datetime) -> int:
        """Highest tx id whose tx-time is <= the instant (the reference
        resolves tx-time -> tx-id through the log; tx ids are totally
        ordered here so max over the pruned tx_time filter serves)."""
        row = (
            # only asserted rows carry their own tx's tx_time; clipped
            # remainders (asserted=False) inherit the ORIGINAL version's
            # tx_time under the splicing tx's tx_from and would lie here
            self.versions.filter(
                F.col("asserted") & (F.col("tx_time") <= to_us(tx_time))
            )
            .agg(F.max("tx_from").alias("m"))
            .first()
        )
        return int(row.m) if row.m is not None else 0

    def max_tx_time(self) -> dt.datetime | None:
        """Wall-clock tx-time of the latest committed tx (None if empty)."""
        row = (
            self.versions.filter(F.col("asserted"))
            .agg(F.max("tx_time").alias("m"))
            .first()
        )
        return splice.from_us(int(row.m)) if row.m is not None else None

    def tx_committed(self, tx_id: int) -> bool:
        """Whether a submitted tx committed (api.clj tx-committed?):
        raises if the tx is unknown or still pending. Tx ids are dense
        (one counter), so ids outside [1, latest-submitted] were never
        handed out by submit_tx — the reference raises NodeOutOfSync /
        unknown-tx for those rather than vacuously answering."""
        if tx_id < 1 or tx_id > self._tx_id:
            raise ValueError(f"tx {tx_id} unknown (never submitted)")
        if tx_id in self.aborted_txs:
            return False
        if self._pending and tx_id >= min(r["tx_id"] for r in self._pending):
            raise ValueError(f"tx {tx_id} not yet indexed")
        return True

    def documents(self, content_hashes: list[str]) -> dict[str, dict]:
        """Fetch docs by content hash (api.clj `documents`; the
        reference's content-addressed doc-store fetch,
        document_store.clj:1-121). With a doc store configured, that
        transport answers (point lookups — the reference's path);
        hashes it doesn't know fall back to the pruned versions scan."""
        out: dict[str, dict] = {}
        missing = list(content_hashes)
        if self._docs is not None:
            out = self._docs.fetch_docs(missing)
            missing = [h for h in missing if h not in out]
        if missing:
            rows = (
                self.versions.filter(F.col("content_hash").isin(missing))
                .select("content_hash", "doc_json")
                .dropDuplicates(["content_hash"])
                .collect()
            )
            out.update(
                {r.content_hash: _docjson.doc_loads(r.doc_json) for r in rows}
            )
        return {h: _docjson.decode_doc(d) for h, d in out.items()}

    def completed_watermark(self) -> int:
        """Highest tx id already applied to the versions table, computed
        driver-side (no Spark job): everything submitted is applied except
        the still-pending tail. Used to pin a Db's tx basis at creation
        (snapshot isolation, query_test.clj:3312 — a db value taken
        before a put never sees it)."""
        if self._pending:
            return min(r["tx_id"] for r in self._pending) - 1
        return self._tx_id

    @_locked
    def snapshot(self) -> tuple[DataFrame, int, set[int], set | None]:
        """Atomic (versions, watermark, aborted-ids<=watermark,
        schema_eids) snapshot under the store mutex. DataFrames are
        immutable, so once the reference is captured the caller can
        write it out lock-free while commits continue — the checkpoint
        then cannot contain txs newer than its recorded tx_id (whose
        WAL-tail replay on restore would duplicate version rows)."""
        tx_id = self.completed_watermark()
        return (
            self.versions,
            tx_id,
            {int(a) for a in self.aborted_txs if a <= tx_id},
            None if self._schema_eids is None else set(self._schema_eids),
        )

    def latest_completed_tx(self) -> int | None:
        """Highest tx id applied to the versions table (api.clj
        latest-completed-tx)."""
        row = self.versions.agg(F.max("tx_from").alias("m")).first()
        return int(row.m) if row.m is not None else None

    def latest_submitted_tx(self) -> int | None:
        """Highest tx id handed out by submit_tx (api.clj
        latest-submitted-tx); may exceed latest_completed_tx while txs
        are pending commit()."""
        return self._tx_id or None

    def tx_log(self, after_tx_id: int | None = None, with_ops: bool = False) -> DataFrame:
        """Committed transactions in tx order (api.clj open-tx-log).

        Without ops: derived from the versions table (one row per tx:
        tx_id, tx_time, n_versions) — a pure distributed aggregation.
        With ops: requires a WAL (``wal_path``); replays the durable log
        the same way recover() does."""
        if with_ops:
            if self._wal is None:
                raise ValueError("tx_log(with_ops=True) needs a wal_path")
            log = self._wal.to_df(self.spark)
            log = log.select("tx_id", F.explode("rows").alias("op"))
            # the op struct carries its own tx_id copy — keep the outer one
            op_fields = [
                f.name
                for f in log.schema["op"].dataType.fields
                if f.name != "tx_id"
            ]
            log = log.select(
                "tx_id", *[F.col(f"op.{n}").alias(n) for n in op_fields]
            )
            # eviction redacts document CONTENT from the log (tx_test.clj
            # tx-log-evict-454: prior put/cas docs of an evicted eid read
            # back as {:evicted? true}); op structure and eids remain.
            # Only COMMITTED evicts redact (an evict inside a tx aborted
            # by a failed match never happened), and only ops strictly
            # BEFORE the evict in (tx_id, seq) order — the reference keys
            # on the evicted content-hashes, so a doc put AFTER the evict
            # (re-created entity) reads back normally.
            not_applied = sorted(
                self.aborted_txs | {r["tx_id"] for r in self._pending}
            )
            evict_ops = log.filter(F.col("op") == "evict")
            if not_applied:
                evict_ops = evict_ops.filter(~F.col("tx_id").isin(not_applied))
            pos = F.struct(
                F.col("tx_id").alias("t"), F.col("seq").alias("s")
            )
            evicted = evict_ops.groupBy("eid").agg(
                F.max(pos).alias("__evict_pos")
            )
            log = log.join(F.broadcast(evicted), "eid", "left")
            before_evict = F.col("__evict_pos").isNotNull() & (
                pos < F.col("__evict_pos")
            )
            redact = lambda c: F.when(
                before_evict & F.col(c).isNotNull(),
                F.lit('{"crux.db/evicted": true}'),
            ).otherwise(F.col(c))
            log = log.withColumn("doc_json", redact("doc_json"))
            if "expected_json" in log.columns:
                log = log.withColumn("expected_json", redact("expected_json"))
            log = log.drop("__evict_pos")
        else:
            log = (
                self.versions.filter(F.col("asserted"))
                .groupBy(F.col("tx_from").alias("tx_id"))
                .agg(
                    F.min("tx_time").alias("tx_time"),
                    F.count("*").alias("n_versions"),
                )
            )
        if after_tx_id is not None:
            log = log.filter(F.col("tx_id") > after_tx_id)
        return log.orderBy("tx_id")

    def entity_history(
        self,
        eid: str,
        ascending: bool = True,
        with_corrections: bool = False,
        start_valid_time: dt.datetime | None = None,
        end_valid_time: dt.datetime | None = None,
        start_tx_id: int | None = None,
        end_tx_id: int | None = None,
        tx: int | None = None,
    ) -> list[dict]:
        """Bounded history of one entity (index_store.clj:524-554 opts;
        query.clj:1740-1758 bound clamping is the caller's concern via a
        snapshot store), from the entity cache. `start` = iteration
        origin (low end asc, high end desc, inclusive); `end` exclusive;
        vt bounds compare valid_from, tx bounds tx_from. ``tx`` is the
        reading db's basis: the history as it was believed at that tx
        (splice.as_of_tx), so later commits never show through."""
        e = canon_eid(eid)
        hist = self._histories([e])[e]
        if tx is not None:
            hist = splice.as_of_tx(hist, tx)
        out = splice.entity_history(
            list(hist),
            ascending,
            with_corrections,
            start_valid_time=to_us(start_valid_time),
            end_valid_time=to_us(end_valid_time),
            start_tx_id=start_tx_id,
            end_tx_id=end_tx_id,
        )
        return [
            {
                "valid_from": splice.from_us(v.valid_from),
                "valid_to": None if v.valid_to == END_OF_TIME else splice.from_us(v.valid_to),
                "tx_from": v.tx_from,
                "doc": None if v.doc_json is None else _docjson.doc_loads(v.doc_json),
                "deleted": v.deleted,
            }
            for v in out
        ]

    def history_scan(
        self,
        start_valid_time: dt.datetime | None = None,
        end_valid_time: dt.datetime | None = None,
        start_tx_id: int | None = None,
        end_tx_id: int | None = None,
        with_corrections: bool = False,
    ) -> DataFrame:
        """Set-based bounded history across ALL entities — the distributed
        sibling of :meth:`entity_history` (same bound semantics, ascending
        orientation: start inclusive / end exclusive on (valid_from,
        tx_from)). Returns the asserted version events in the window as a
        DataFrame; at scale the bounds are partition-prunable predicates so
        an audit over a day's window scans a day, not the full store."""
        scan = self.versions.filter(F.col("asserted"))
        svt, evt = to_us(start_valid_time), to_us(end_valid_time)
        if svt is not None:
            scan = scan.filter(F.col("valid_from") >= svt)
        if evt is not None:
            scan = scan.filter(F.col("valid_from") < evt)
        if start_tx_id is not None:
            scan = scan.filter(F.col("tx_from") >= start_tx_id)
        if end_tx_id is not None:
            scan = scan.filter(F.col("tx_from") < end_tx_id)
        if not with_corrections:
            # latest assertion per (eid, valid_from) within the window —
            # same collapse as splice.entity_history under tx bounds
            w = F.row_number().over(
                Window.partitionBy("eid", "valid_from").orderBy(
                    F.col("tx_from").desc()
                )
            )
            scan = scan.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")
        return scan

    def with_tx(self, ops: Iterable[Any], tx_time: dt.datetime | None = None) -> "TxStore":
        """Speculative fork (query.clj:1896-1913 / fork.clj): apply ops on a
        copy; the base store is untouched."""
        fork = TxStore(self.spark, self.versions)
        fork._tx_id = self._tx_id
        fork._tx_fns = dict(self._tx_fns)
        fork._schema_eids = (
            None if self._schema_eids is None else set(self._schema_eids)
        )
        fork.submit_tx(ops, tx_time)
        fork.commit()
        return fork

    def fork_at(self, tx: int | None) -> "TxStore":
        """Fork whose version state is the belief AS OF ``tx``
        (fork.clj / fork_test.clj test-speculative-from-point-in-past):
        rows written by later txs are dropped, rows CLOSED by later txs
        are reopened — txs after the basis are invisible in the fork.
        The tx counter continues from the base store so speculative txs
        get the next global id, like the reference."""
        from crux_spark.bitemporal.splice import END_OF_TX

        if tx is None:
            versions = self.versions
        else:
            versions = self.versions.filter(F.col("tx_from") <= tx).withColumn(
                "tx_to",
                F.when(F.col("tx_to") > tx, F.lit(END_OF_TX)).otherwise(
                    F.col("tx_to")
                ),
            )
        fork = TxStore(self.spark, versions)
        fork._tx_id = self._tx_id
        fork._tx_fns = dict(self._tx_fns)
        fork._schema_eids = (
            None if self._schema_eids is None else set(self._schema_eids)
        )
        return fork

    def catalog(
        self,
        valid_time: dt.datetime | None = None,
        tx: int | None = None,
        name: str = "docs",
        schema=None,
    ):
        """Datalog-queryable view of this store's snapshot:
        ``store.with_tx(ops).catalog()`` is the reference's speculative
        with-tx → q flow (query.clj:1896-1913) in one call."""
        from crux_spark.catalog import Catalog

        return Catalog.from_store(
            self, valid_time=valid_time, tx=tx, name=name, schema=schema
        )

    # ------------------------------------------------------------ persistence

    def compact(self, before_tx: int) -> int:
        """Drop version rows invisible to every snapshot at tx >=
        before_tx — the reference's index/doc-store compaction
        (compaction_test.clj): a row superseded in the tx dimension
        before the horizon (tx_to <= before_tx) can never satisfy
        tx_from <= tx < tx_to for tx >= before_tx. Valid-time history
        at or after the horizon is untouched (corrections keep their
        full (vt, tt >= horizon) rectangles); db()/history reads at tx
        < before_tx become undefined. Returns rows removed."""
        old = self.versions
        n_before = old.count()
        self.versions = old.filter(
            F.col("tx_to") > before_tx
        ).localCheckpoint()
        return n_before - self.versions.count()

    def compact_wal(self) -> int:
        """Physically erase evicted documents from the durable log — the
        reference's evict deletes the docs from the document store
        (tx.clj evict; the tx-log keeps redacted tombstones). Rewrites
        the WAL in place with {"crux.db/evicted": true} bodies for every
        op on an evicted eid; returns the number of redacted ops."""
        if self._wal is None:
            return 0
        entries = list(self._wal.entries())
        if not entries:
            return 0
        # Only COMMITTED evicts redact (the WAL is written at submit time,
        # so it carries evicts from txs later aborted by a failed match —
        # those never happened), and only ops strictly BEFORE the evict in
        # (tx_id, seq) order: the reference keys redaction on the evicted
        # content-hashes (tx-log-evict-454), so a doc put AFTER the evict
        # (re-created entity) must survive the rewrite — a WAL-tail replay
        # after this rewrite must reproduce the live store byte-for-byte.
        not_applied = self.aborted_txs | {r["tx_id"] for r in self._pending}
        evict_pos: dict[str, tuple[int, int]] = {}
        for e in entries:
            for r in e["rows"]:
                if r.get("op") == "evict" and int(r["tx_id"]) not in not_applied:
                    p = (int(r["tx_id"]), int(r.get("seq") or 0))
                    if p > evict_pos.get(r["eid"], (-1, -1)):
                        evict_pos[r["eid"]] = p
        # The rewrite keeps the ORIGINAL doc's content-hash inside the
        # tombstone (the reference's log stores content-hashes that evict
        # never touches, tx.clj) so that a replayed match op still compares
        # the same hashes as the original run — equal docs stay equal,
        # different docs stay different — and replay verdicts are stable.
        n = 0
        for e in entries:
            for r in e["rows"]:
                p = (int(r["tx_id"]), int(r.get("seq") or 0))
                if p < evict_pos.get(r.get("eid"), (-1, -1)):
                    for k in ("doc_json", "expected_json"):
                        v = r.get(k)
                        if v is not None and not _is_evict_tombstone(v):
                            r[k] = json.dumps(
                                {
                                    "crux.db/evicted": True,
                                    "crux.db/content-hash": splice.content_hash(
                                        json.loads(v)
                                    ),
                                },
                                sort_keys=True,
                            )
                            n += 1
        self._wal.rewrite(entries)
        return n

    def save(
        self,
        path: str,
        buckets: int = 64,
        versions: DataFrame | None = None,
        schema_eids: set | None = None,
    ) -> None:
        """Persist partitioned by eid hash bucket (co-locates future
        cogroups; at scale use .bucketBy on a metastore table).

        ``versions``/``schema_eids`` let CheckpointStore write an
        atomic snapshot() instead of live (possibly newer) state; when
        ``versions`` is given, the passed ``schema_eids`` is
        authoritative (None = unknown, same as the live field)."""
        df = versions if versions is not None else self.versions
        eids = schema_eids if versions is not None else self._schema_eids
        (
            df.withColumn("bucket", F.abs(F.hash("eid")) % buckets)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )
        # sidecar: the SQL registry side-set survives the checkpoint, so
        # a load()ed store never pays even the one discovery scan (a
        # _SUCCESS-style marker key; an object-store deployment writes
        # it through the same FS client as the parquet)
        if eids is not None:
            try:
                with open(
                    os.path.join(path, "_schema_doc_eids.json"), "w"
                ) as f:
                    json.dump(sorted(eids), f)
            except OSError:
                pass  # non-local path: load() falls back to discovery

    @classmethod
    def recover(cls, spark: SparkSession, wal_path, doc_store=None) -> "TxStore":
        """Rebuild a store by replaying the write-ahead log (deterministic
        replay on every node, tx.clj:424-479). Ops in the WAL are already
        tx-fn-expanded, so no fn registry is needed. Accepts any WAL spec
        (JSONL path, 'sqlite:<path>', or a TxLogBackend); an existing
        doc-store spec re-attaches unchanged (it persists independently
        of the replay, like the reference's doc store)."""
        from crux_spark.bitemporal.txlog import open_tx_log

        backend = open_tx_log(wal_path)
        store = cls(spark, wal_path=None, doc_store=doc_store)
        replayed = False
        for entry in backend.entries():
            if entry.get("aborted"):
                # fn-failed tx: occupies its id slot, indexes nothing
                store.aborted_txs.add(int(entry["tx_id"]))
            else:
                store._pending.extend(entry["rows"])
            store._tx_id = max(store._tx_id, int(entry["tx_id"]))
            replayed = True
        if replayed:
            store.commit()
        store.wal_path = backend
        return store

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "TxStore":
        df = spark.read.parquet(path).drop("bucket")
        if "legacy_hash" not in df.columns:
            # pre-legacy_hash checkpoints: provenance unknown -> True
            # keeps the tolerant r12/r13 fallback for restored rows
            df = df.withColumn("legacy_hash", F.lit(True))
        if "origin_tx" not in df.columns:
            # pre-origin_tx checkpoints: 0 = unknown, origin() falls
            # back to tx_from
            df = df.withColumn("origin_tx", F.lit(0).cast("long"))
        store = cls(spark, df.localCheckpoint())
        row = df.agg(F.max("tx_from").alias("m")).first()
        store._tx_id = int(row.m or 0)
        try:
            with open(os.path.join(path, "_schema_doc_eids.json")) as f:
                loaded = json.load(f)
            # Shape-validate before adopting: a JSON string would become a
            # set of characters (silently hiding registry docs), a number
            # would TypeError on iteration. Anything but a list of strings
            # falls back to the discovery scan like a corrupt sidecar.
            if not (isinstance(loaded, list)
                    and all(isinstance(e, str) for e in loaded)):
                raise ValueError("sidecar is not a list of strings")
            store._schema_eids = set(loaded)
        except (OSError, ValueError, TypeError):
            # pre-sidecar or corrupt sidecar: discovery scan on first use
            pass
        return store
