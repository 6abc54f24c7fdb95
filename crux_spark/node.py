"""Node façade — the engine's top-level API, mirroring the reference's
ICruxAPI surface (crux-core/src/crux/api.clj): submit-tx / await-tx / db /
entity / entity-history / q / pull / with-tx, over the Spark-native
components.

    node = Node(spark)
    node.submit_tx([("put", {"id": "u1", "name": "Ann", "score": 10})])
    node.await_tx()
    db = node.db()                      # snapshot value at (now, latest-tx)
    db.q({"find": ["?n"], "where": [["?u", ":name", "?n"]]})
    db.entity("u1")
    node.db(valid_time=t, tx=7).q(...)  # time travel

Schemaless documents become a typed wide table per `schema` (Spark DDL
string, the analogue of the reference's :crux.sql.table/columns mapping
docs, crux-sql/src/crux/calcite.clj:459-466); without a schema the
collection is exposed as (eid, doc_json) only.
"""

from __future__ import annotations

import datetime as dt
import json
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crux_spark._localframe import local_frame
from crux_spark.bitemporal.store import TxStore
from crux_spark.catalog import Catalog
from crux_spark.datalog import compile_query
from crux_spark.datalog.pull import is_flat, pull_flat
from crux_spark.datalog.pull import pull as _pull


def _clean_completed(queries: list, max_age: float, max_count: int) -> list:
    """node.clj:75-79: drop expired (by finished-at age), newest first,
    cap at max_count."""
    import time

    now = time.time()
    live = [q for q in queries if now - q["finished_at"] <= max_age]
    live.sort(key=lambda q: q["finished_at"], reverse=True)
    return live[:max_count]


def _clean_slowest(queries: list, max_age: float, max_count: int) -> list:
    """node.clj:81-86: drop expired, slowest (longest duration) first,
    cap at max_count."""
    import time

    now = time.time()
    live = [q for q in queries if now - q["finished_at"] <= max_age]
    live.sort(key=lambda q: q["started_at"] - q["finished_at"])
    return live[:max_count]


def _canonical_order(df: DataFrame) -> DataFrame:
    """Deterministic total order over a result relation (for resumable
    offset pagination of unordered queries — see Db.q_stream): sort by
    every output column, serializing non-orderable types (maps, and
    arrays nesting them) to their JSON text so the sort key is total."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def orderable(t) -> bool:
        if isinstance(t, MapType):
            return False
        if isinstance(t, ArrayType):
            return orderable(t.elementType)
        if isinstance(t, StructType):
            return all(orderable(f.dataType) for f in t.fields)
        return True

    keys = [
        F.col(f.name) if orderable(f.dataType) else F.to_json(F.col(f.name))
        for f in df.schema.fields
    ]
    return df.orderBy(*keys) if keys else df


class NodeOutOfSyncError(ValueError):
    """Requested tx-time is ahead of the latest indexed tx (the
    reference's NodeOutOfSyncException, api_test.clj bug 546)."""


class Db:
    """An immutable database value at (valid_time, tx) —
    the reference's `db` (query.clj:1806-1835)."""

    def __init__(self, node: "Node", valid_time: dt.datetime | None, tx: int | None):
        self.node = node
        # no valid time means "now", resolved once here: the value must
        # not drift with the wall clock while it is being read
        self._given_valid_time = valid_time
        self.valid_time = (
            valid_time if valid_time is not None
            else dt.datetime.now(dt.timezone.utc)
        )
        self.tx = tx
        self._catalog: Catalog | None = None

    # -- snapshot-backed catalog ------------------------------------------

    def catalog(self) -> Catalog:
        if self._catalog is None:
            self._catalog = self._catalog_of(
                self.node.store.db(self.valid_time, self.tx)
            )
        return self._catalog

    def _catalog_of(self, snap: DataFrame) -> Catalog:
        """A catalog holding ``snap``'s (eid, doc_json) rows as the
        node's collection, typed by the node schema when it has one."""
        if self.node.schema:
            docs = snap.select(
                "eid", F.from_json("doc_json", self.node.schema).alias("d")
            ).select("eid", "d.*")
        else:
            docs = snap.select("eid", "doc_json")
        cat = Catalog(self.node.spark)
        cat.add_documents(self.node.collection, docs, id_col="eid")
        return cat

    # -- query surface ----------------------------------------------------

    def q(self, query: dict, *args: Any) -> DataFrame:
        """Datalog query against this snapshot (lazy result frame)."""
        return compile_query(self.catalog(), query, *args)

    def open_q(self, query: dict, *args: Any):
        """Lazy cursor over results (api.clj open-q): partitions stream
        to the driver on demand via toLocalIterator — constant driver
        memory for result sets larger than RAM."""
        return self.q(query, *args).toLocalIterator()

    def basis(self) -> dict:
        """The snapshot coordinates (api.clj db-basis)."""
        return {"valid-time": self.valid_time, "tx-id": self.tx}

    def explain(self, query: dict, *args: Any) -> dict:
        """Physical-plan facts for a query WITHOUT running it: scans with
        pruned columns, pushed filters, join strategies, shuffle count
        and checkpointed-subtree reads (``crux_spark.plans.plan_facts``)
        — the scale-up audit surface."""
        from crux_spark.plans import plan_facts

        return plan_facts(self.q(query, *args))

    def entity(self, eid: str) -> dict | None:
        return self.node.store.entity(eid, self.valid_time, self.tx)

    def entity_tx(self, eid: str) -> dict | None:
        """Tx metadata of the visible version (api.clj entity-tx)."""
        return self.node.store.entity_tx(eid, self.valid_time, self.tx)

    def entity_history(
        self, eid: str, ascending: bool = True, with_corrections: bool = False
    ) -> list[dict]:
        return self.node.store.entity_history(
            eid, ascending, with_corrections, tx=self.tx
        )

    def pull(self, eid: str, spec: list, joins: dict | None = None) -> dict | None:
        return self.pull_many([eid], spec, joins)[0]

    def pull_many(
        self, eids: list, spec: list, joins: dict | None = None
    ) -> list[dict | None]:
        """Batch pull (api.clj pull-many, pull_test.clj:117-133): ONE
        pull over all requested ids — never a per-id loop — returned in
        the order given (None for unknown ids). A spec without joins or
        recursion reads the ids' docs from the store's entity cache into
        a local frame (no Spark job when all hit, one for the misses);
        any other spec runs the distributed pull over the snapshot."""
        ordered = [str(e) for e in eids]
        ids = list(dict.fromkeys(ordered))
        if is_flat(spec):
            cat = self._catalog_of(
                self.node.store.db_of(ids, self.valid_time, self.tx)
            )
            rows = pull_flat(cat, self.node.collection, spec).collect()
        else:
            base = local_frame(self.node.spark, {"e": ids}, "e string")
            rows = _pull(
                self.catalog(), base, "e", self.node.collection, spec,
                joins=joins,
            ).collect()
        # both paths return (id, pull) rows
        by_id = {
            r[0]: (None if r.pull is None else r.pull.asDict(recursive=True))
            for r in rows
        }
        return [by_id.get(e) for e in ordered]

    def sql_view(self, name: str) -> DataFrame:
        from crux_spark.sql import temporal_view

        return temporal_view(
            self.node.store, name, self.valid_time, self.tx, self.node.schema
        )

    def with_tx(self, ops: Iterable, tx_time: dt.datetime | None = None) -> "Db | None":
        """Speculative fork FROM THIS SNAPSHOT (fork.clj, api.clj
        with-tx on a db value): txs after this db's basis are invisible
        in the fork; unranged ops default their valid time to the valid
        time this db was asked for, or to the fork's tx time (now) when
        it was taken at "now"; returns None when the speculative tx
        aborts (failed match — fork_test.clj 'returns nil on failed
        match')."""
        fork_store = self.node.store.fork_at(self.tx)
        fork_store.submit_tx(ops, tx_time or self._given_valid_time)
        if fork_store.commit():
            return None
        fork = Node(self.node.spark, self.node.schema, self.node.collection)
        fork.store = fork_store
        return Db(fork, self._given_valid_time, None)

    def q_collect(self, query: dict, *args: Any) -> list:
        """Eager collection with timeout-interrupt semantics AND query
        monitoring (api.clj active-queries/recent-queries/slowest-queries;
        node.clj:240-260 records submitted/completed/failed events). The
        lazy `q` surface is untracked by design — a DataFrame has no
        single completion event."""
        from crux_spark.datalog.compile import q_eager

        return self._monitored(
            query, lambda: q_eager(self.catalog(), query, *args)
        )

    def _monitored(self, query: dict, run: Callable[[], list]) -> list:
        """Run `run()` as one monitored query: recorded as submitted,
        then as completed, or as failed with ``repr`` of the error."""
        import time
        import uuid

        state = {
            "query_id": uuid.uuid4().hex[:12],
            "query": query,
            "started_at": time.time(),
            "finished_at": None,
            "status": "in-progress",
            "error": None,
        }
        self.node._record_submitted_query(state)
        try:
            rows = run()
            state["status"] = "completed"
            return rows
        except Exception as e:
            state["status"] = "failed"
            state["error"] = repr(e)
            raise
        finally:
            state["finished_at"] = time.time()
            self.node._record_finished_query(state)

    def q_stream(
        self, query: dict, *args: Any, limit: int | None = None,
        offset: int = 0, stable: bool = False,
    ) -> list:
        """Monitored query execution that never collect()s the full
        frame driver-side: rows come through toLocalIterator (one
        partition in flight at a time — the reference's cursor-backed
        open-q, http_server.clj:330-424), bounded by offset/limit, and
        interrupted on ``:timeout`` (ms, same default as q_collect) by
        cancelling the query's job group. The HTTP facade's query path;
        q_collect stays the eager full-collect surface.

        ``stable=True`` (set by the HTTP facade for paged requests):
        when the query has no :order-by, impose a canonical total order
        over the output columns before windowing, so offset windows from
        SEPARATE executions tile without drops or duplicates — Spark
        does not guarantee a stable row order across re-executions after
        shuffles/AQE. Unordered Datalog results are set-semantics
        (SURVEY §2.7), so a canonical order is semantics-preserving; it
        costs a sort of the result relation, which is exactly the price
        of resumable pagination over re-execution (the reference avoids
        it by streaming ONE execution through a server-held cursor)."""
        import itertools

        from crux_spark.datalog.compile import normalize_query, run_cancellable

        def run():
            df = self.q(query, *args)
            nq = normalize_query(query)
            if stable and not (nq.get("order-by") or nq.get("order_by")):
                df = _canonical_order(df)
            stop = None if limit is None else offset + limit
            return list(itertools.islice(df.toLocalIterator(), offset, stop))

        return self._monitored(query, lambda: run_cancellable(
            self.node.spark.sparkContext, query, run, "crux_spark streamed query"
        ))


class Node:
    """The running engine instance (the reference's node, minus the wiring
    we deliberately do not rebuild — SURVEY.md 'explicit non-goals')."""

    def __init__(
        self,
        spark: SparkSession,
        schema: str | None = None,
        collection: str = "docs",
        recent_queries_max_age: float = 300.0,
        recent_queries_max_count: int = 20,
        slow_queries_min_threshold: float = 0.1,
        slow_queries_max_age: float = 300.0,
        slow_queries_max_count: int = 20,
    ):
        self.spark = spark
        self.store = TxStore(spark)
        self.schema = schema
        self.collection = collection
        self._tx_listeners: list = []
        self._pending_listener_txs: list = []
        # name -> secondary index registered via register_index(); pass
        # as checkpoint(store, indexes=node.indexes) to persist them
        self.indexes: dict = {}
        # query monitoring (node.clj:71-86, :240-260; defaults mirror the
        # reference's 5-minute / 20-entry queues and 100ms slow threshold)
        self.recent_queries_max_age = recent_queries_max_age
        self.recent_queries_max_count = recent_queries_max_count
        self.slow_queries_min_threshold = slow_queries_min_threshold
        self.slow_queries_max_age = slow_queries_max_age
        self.slow_queries_max_count = slow_queries_max_count
        self._running_queries: dict = {}
        self._completed_queries: list = []
        self._slowest_queries: list = []
        self._query_listeners: list = []

    # -- query monitoring (api.clj active/recent/slowest-queries) ---------

    def listen_queries(self, fn) -> "callable":
        """Subscribe to query lifecycle events ({'event_type':
        'submitted-query'|'completed-query'|'failed-query', 'query_id',
        ...}) — the node.clj bus events crux-metrics' query listeners
        consume (crux-metrics/src/crux/metrics/query.clj). Returns a
        zero-arg unsubscribe."""
        self._query_listeners.append(fn)
        return lambda: self._query_listeners.remove(fn)

    def _notify_query(self, event_type: str, state: dict) -> None:
        for fn in list(self._query_listeners):
            fn({"event_type": event_type, **state})

    def _record_submitted_query(self, state: dict) -> None:
        self._running_queries[state["query_id"]] = state
        self._notify_query("submitted-query", state)

    def _record_finished_query(self, state: dict) -> None:
        self._notify_query(
            "completed-query" if state["status"] == "completed"
            else "failed-query",
            state,
        )
        self._running_queries.pop(state["query_id"], None)
        self._completed_queries.append(state)
        self._completed_queries = _clean_completed(
            self._completed_queries,
            self.recent_queries_max_age,
            self.recent_queries_max_count,
        )
        took = state["finished_at"] - state["started_at"]
        if took > self.slow_queries_min_threshold:
            self._slowest_queries.append(state)
            self._slowest_queries = _clean_slowest(
                self._slowest_queries,
                self.slow_queries_max_age,
                self.slow_queries_max_count,
            )

    def active_queries(self) -> list[dict]:
        return list(self._running_queries.values())

    def recent_queries(self) -> list[dict]:
        """Finished queries, newest first, bounded by max-age/max-count
        (node.clj clean-completed-queries)."""
        self._completed_queries = _clean_completed(
            self._completed_queries,
            self.recent_queries_max_age,
            self.recent_queries_max_count,
        )
        return list(self._completed_queries)

    def slowest_queries(self) -> list[dict]:
        """Slowest finished queries first, bounded by max-age/max-count
        (node.clj clean-slowest-queries)."""
        self._slowest_queries = _clean_slowest(
            self._slowest_queries,
            self.slow_queries_max_age,
            self.slow_queries_max_count,
        )
        return list(self._slowest_queries)

    def submit_tx(self, ops: Iterable, tx_time: dt.datetime | None = None) -> int:
        # materialize ONCE up front: ops may be a generator, and the store
        # would otherwise consume it before the listener copy is taken
        import time as _time

        ops = list(ops)
        tx_id = self.store.submit_tx(ops, tx_time)
        self._pending_listener_txs.append((tx_id, ops, _time.time()))
        return tx_id

    def await_tx(self) -> set[int]:
        """Commit pending txs (read-your-writes barrier, api.clj:36-61).
        Returns aborted tx ids. Indexed-tx listeners fire once per
        committed-or-aborted tx, in tx order, with the op list
        (api.clj listen {:crux/event-type :crux/indexed-tx}; the
        synchronous commit model makes delivery deterministic rather
        than Thread/sleep-racy)."""
        aborted = self.store.commit()
        pending, self._pending_listener_txs = self._pending_listener_txs, []
        for tx_id, ops, submitted_at in pending:
            event = {
                "event_type": "indexed-tx",
                "tx_id": tx_id,
                "committed": tx_id not in aborted,
                "tx_ops": ops,
                # submit wall-clock, for the tx-latency gauge
                # (crux-metrics index_store.clj assign-tx-latency-gauge)
                "submitted_at": submitted_at,
            }
            for fn in list(self._tx_listeners):
                fn(event)
        return aborted

    def listen(self, fn) -> "callable":
        """Subscribe to indexed-tx events; returns a zero-arg unsubscribe
        (the reference returns an AutoCloseable)."""
        self._tx_listeners.append(fn)
        return lambda: self._tx_listeners.remove(fn)

    def register_index(self, name: str, index) -> "callable":
        """Attach a secondary index (IncrementalTextIndex /
        IncrementalVectorIndex / IncrementalMinHashIndex, which share
        the replay seam of bitemporal/replay.py, or anything with the
        ``listener(epoch, ops_batch)`` contract) to this node's commit
        path — the
        reference's register-index! (crux-core/src/crux/tx.clj:400-410:
        external indexes replay the log and stay current per indexed
        tx). The index receives ONE committed-rows batch per await_tx;
        aborted txs index nothing. Registered indexes are tracked by
        name so ``checkpoint(store, indexes=node.indexes)`` persists
        them beside the versions table. Returns a zero-arg
        unsubscribe."""
        self.indexes[name] = index
        self.store.index_listeners.append(index.listener)

        def _unsub():
            self.store.index_listeners.remove(index.listener)
            self.indexes.pop(name, None)

        return _unsub

    def register_tx_fn(self, name: str, fn) -> None:
        self.store.register_tx_fn(name, fn)

    def db(
        self,
        valid_time: dt.datetime | None = None,
        tx: int | None = None,
        tx_time: dt.datetime | None = None,
    ) -> Db:
        """Snapshot value (api.clj db arities): by (valid-time, tx-id) or
        by (valid-time, tx-time) — a wall-clock tx_time resolves to the
        highest tx id indexed at or before it, like open-tx-log's
        time-based positioning."""
        if tx_time is not None:
            if tx is not None:
                raise ValueError("pass tx or tx_time, not both")
            latest = self.store.max_tx_time()
            if latest is None or tx_time > latest:
                # the reference's NodeOutOfSyncException (api_test.clj
                # test-db-throws-if-future-tx-time-provided-546): a tx-time
                # beyond the latest completed tx cannot be resolved
                raise NodeOutOfSyncError(
                    f"node hasn't indexed a transaction at {tx_time} "
                    f"(latest completed tx-time: {latest})"
                )
            tx = self.store.tx_at(tx_time)
        if tx is None:
            # pin the basis at creation time: a db value must not see txs
            # committed after it was taken (query_test.clj:3312
            # test-query-against-empty-database-376)
            tx = self.store.completed_watermark()
        return Db(self, valid_time, tx)

    def with_tx(self, ops: Iterable, tx_time: dt.datetime | None = None) -> Db:
        """Speculative db value (query.clj:1896-1913)."""
        fork_store = self.store.with_tx(ops, tx_time)
        fork = Node(self.spark, self.schema, self.collection)
        fork.store = fork_store
        return Db(fork, None, None)

    def open_tx_log(
        self, after_tx_id: int | None = None, with_ops: bool = False
    ) -> DataFrame:
        """Committed tx stream in tx order (api.clj open-tx-log).
        with_ops=True replays the WAL (needs a wal_path-backed store)."""
        return self.store.tx_log(after_tx_id, with_ops)

    def latest_completed_tx(self) -> int | None:
        return self.store.latest_completed_tx()

    def tx_committed(self, tx_id: int) -> bool:
        """api.clj tx-committed?"""
        return self.store.tx_committed(tx_id)

    def documents(self, content_hashes: list[str]) -> dict[str, dict]:
        """Content-addressed doc fetch (api.clj documents)."""
        return self.store.documents(content_hashes)

    def document(self, content_hash: str) -> dict | None:
        return self.store.documents([content_hash]).get(content_hash)

    def latest_submitted_tx(self) -> int | None:
        return self.store.latest_submitted_tx()

    def status(self) -> dict:
        """Node status map (api.clj status): engine version, tx watermarks,
        entity/version counts — all cheap aggregations."""
        counts = self.store.versions.agg(
            F.countDistinct("eid").alias("entities"),
            F.count("*").alias("versions"),
        ).first()
        return {
            "crux.version/version": "crux-spark",
            "crux.index/index-version": "parquet-intervals",
            "latest_completed_tx": self.store.latest_completed_tx(),
            "latest_submitted_tx": self.store.latest_submitted_tx(),
            "entities": counts.entities,
            "versions": counts.versions,
            "pending_ops": len(self.store._pending),
        }

    def attribute_stats(self) -> dict[str, int]:
        """attr -> value count over the current snapshot (api.clj
        attribute-stats; the reference maintains these counts in the index
        for join ordering — Catalyst's CBO/AQE plays that role here, so
        this surface is observability, computed as ONE aggregation pass).
        Needs a document schema to know the attribute columns."""
        if not self.schema:
            raise ValueError("attribute_stats needs a document schema")
        snap = self.db().catalog().table(self.collection)
        attrs = [c for c in snap.columns if c not in ("_id", "eid")]
        row = snap.agg(
            *[F.count(F.col(c)).alias(c) for c in attrs]
        ).first()
        return {f":{c}": int(row[c]) for c in attrs}


class IngestClient:
    """Write-only node: submits transactions to the durable tx log and
    doc store WITHOUT an index store (api.clj new-ingest-client;
    ingest_client_test.clj) — the shape used by dedicated ingest
    processes that never query. A full node later starts on the same
    log (TxStore.recover) and indexes everything submitted here.

    Composes a TxStore purely for its submit path (op expansion, WAL
    append, doc-store write); intentionally exposes NO commit/query
    surface. Reopening on an existing log continues the id sequence."""

    def __init__(self, spark, wal_path, doc_store=None):
        from crux_spark.bitemporal.store import TxStore

        self._store = TxStore(spark, wal_path=wal_path, doc_store=doc_store)
        for entry in self._store._wal.entries():
            self._store._tx_id = max(
                self._store._tx_id, int(entry["tx_id"])
            )

    def submit_tx(self, ops, tx_time=None) -> int:
        tx_id = self._store.submit_tx(ops, tx_time=tx_time)
        # A write-only client never calls commit(), so the indexing
        # backlog would otherwise grow unboundedly for the life of the
        # process (exactly the dedicated-ingest scenario this class is
        # for). Everything durable — WAL entry, doc-store batch — was
        # written by submit_tx; the pending rows only feed the index this
        # client intentionally doesn't have. Drain them.
        self._store._pending.clear()
        return tx_id

    def register_tx_fn(self, name, fn) -> None:
        self._store.register_tx_fn(name, fn)

    def latest_submitted_tx(self):
        return self._store.latest_submitted_tx()

    def tx_log(self, after_tx_id=None, with_ops: bool = True):
        """Submitted (not-yet-indexed) events straight off the durable
        log — the reference's db/open-tx-log on the ingest client's
        tx-log component."""
        return self._store.tx_log(after_tx_id=after_tx_id, with_ops=with_ops)
