"""The four workloads. See perfbench/README.md for what each measures."""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import time

import gen
import oracles
import tpch

NOW_US = gen.us(dt.datetime(2100, 1, 1))  # after every generated instant


def make(name: str, ctx):
    return {"ingest": Ingest, "serve": Serve, "analytics": Analytics,
            "dedup_pipeline": DedupPipeline}[name](ctx)


def _eid_of(op: tuple) -> str:
    return op[1]["id"] if op[0] == "put" else op[1]


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class _NodeStore:
    """A Node over a bulk-loaded store of generated docs, plus the model."""

    n_entities = 10_000
    versions = 1
    with_log = False
    setup_rounds = 3
    whole_passes = True
    state_checks = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.round = 0

    def load(self) -> None:
        from crux_spark.bitemporal.store import TxStore
        from crux_spark.node import Node

        self.round += 1
        n = max(50, int(self.n_entities * self.ctx.scale))
        pdf, self.model = gen.doc_store(self.ctx.seed, n, self.versions)
        self.node = Node(self.ctx.spark, schema=gen.NODE_SCHEMA)
        if self.with_log:
            self.wal = self.ctx.path(f"r{self.round}", "wal.jsonl")
            self.docs = self.ctx.path(f"r{self.round}", "docs.jsonl")
            self.node.store = TxStore(self.ctx.spark, wal_path=self.wal, doc_store=self.docs)
        df = self.ctx.spark.createDataFrame(pdf)
        self.node.store.bulk_ingest(df, "id", gen.NODE_COLS, "vf")
        self.bulk_user_bytes = sum(
            len(json.dumps(d)) for tl in self.model.entities.values() for d in tl.docs
        )
        self.opgen = gen.OpGen(random.Random(f"ops-{self.ctx.seed}"), self.model, n)
        self.submitted_user_bytes = 0
        self.committed_ops = 0

    def write_op(self, ops: list[tuple], expect_abort: bool) -> dict:
        op = {"cls": "write", "n_ops": len(ops), "expect_abort": expect_abort}

        def fn():
            tx = self.node.submit_tx([gen.to_lib(o) for o in ops])
            op["aborted"] = tx in self.node.await_tx()
            self.submitted_user_bytes += gen.user_bytes(ops)
            done = 0 if op["aborted"] else len(ops)
            self.committed_ops += done
            return done

        op["fn"] = fn
        return op

    def check_writes(self, ops: list[dict]) -> tuple[int, int, list]:
        bad = [op for op in ops if op["cls"] == "write" and "error" not in op
               and op.get("aborted") != op["expect_abort"]]
        n = sum(1 for op in ops if op["cls"] == "write")
        return n, len(bad), [f"tx abort={op.get('aborted')} expected {op['expect_abort']}" for op in bad]

    def check_state(self, rng: random.Random) -> tuple[int, int, list]:
        """Whole-snapshot compare at three valid times (now and two past
        instants) plus entity() reads at sampled eids."""
        from pyspark.sql import functions as F

        checks = mismatches = 0
        details = []
        eids = sorted(self.model.entities)
        instants = [NOW_US] + [gen.BASE_US + rng.randrange(400) * gen.DAY for _ in range(2)]
        for t in instants:
            vt = None if t == NOW_US else gen.from_us(t)
            rows = self.node.store.db(vt).select("eid", F.col("doc_json")).collect()
            got = {r.eid: oracles.plain_doc(r.doc_json) for r in rows}
            want = self.model.snapshot(t)
            checks += 1
            if got != want:
                mismatches += 1
                diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                details.append(f"snapshot at {gen.from_us(t)}: {len(diff)} eids differ, e.g. {diff[:5]}")
        for eid in rng.sample(eids, min(5, len(eids))):
            t = rng.choice(instants)
            db = self.node.db(valid_time=None if t == NOW_US else gen.from_us(t))
            got = db.entity(eid)
            checks += 1
            if oracles.plain(got) != self.model.at(eid, t):
                mismatches += 1
                details.append(f"entity {eid} at {gen.from_us(t)}: {got} != {self.model.at(eid, t)}")
        return checks, mismatches, details

    def log_extras(self, trace: bool) -> dict:
        if not trace:
            return {}
        store = self.node.store
        rows_after = store.versions.count()
        out = {"store.version_rows_per_op":
               (rows_after - self.rows_after_warmup) / max(1, self.committed_ops - self.warm_ops)}
        pq = self.ctx.path("final-versions")
        store.versions.write.mode("overwrite").parquet(pq)
        stored = _dir_bytes(pq)
        user = self.bulk_user_bytes + self.submitted_user_bytes
        if self.with_log:
            wal, docs = _dir_bytes(self.wal), _dir_bytes(self.docs)
            stored += wal + docs
            sub = max(1, self.submitted_user_bytes)
            out["txlog.bytes_per_user_byte"] = wal / sub
            out["docstore.bytes_per_user_byte"] = docs / sub
        out["store.stored_bytes_per_user_byte"] = stored / user
        out["version_rows"] = rows_after
        return out

    def mark_warm(self, trace: bool) -> None:
        self.warm_ops = self.committed_ops
        self.rows_after_warmup = self.node.store.versions.count() if trace else 0


class Ingest(_NodeStore):
    """Write stream against a bulk-loaded store with a JSONL WAL and doc store."""

    n_entities = 20_000
    versions = 1
    with_log = True
    setup_rounds = 3
    whole_passes = True
    sizes = gen.quantile_sizes(5)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.state_checks = 8

    def warmup(self) -> None:
        kinds = ["append", "correction", "ranged", "delete", "match"]
        self.write_op(self.opgen.tx(len(kinds), kinds), False)["fn"]()
        self.write_op(self.opgen.failing_tx(1), True)["fn"]()
        self.mark_warm(self.ctx.trace)

    def passes(self):
        rng = self.opgen.rng
        n_fail_pairs = max(1, round(0.05 * sum(self.sizes) / 2))
        while True:
            order = list(self.sizes) + [None]
            rng.shuffle(order)

            def one_pass(order=order):
                for size in order:
                    if size is None:
                        yield self.write_op(self.opgen.failing_tx(n_fail_pairs), True)
                    else:
                        yield self.write_op(self.opgen.tx(size), False)

            yield one_pass()

    def check(self, ops):
        n1, m1, d1 = self.check_writes(ops)
        n2, m2, d2 = self.check_state(random.Random(f"check-{self.ctx.seed}"))
        self.state_checks = n2
        return n1 + n2, m1 + m2, d1 + d2

    def extras(self, trace: bool) -> dict:
        out = self.log_extras(trace)
        out["committed_ops"] = self.committed_ops
        out["tx_sizes_per_pass"] = self.sizes
        return out


# One pass of 23 requests in a fixed, evenly interleaved order: 7 entity, 4
# as-of, 2 history, 3 Datalog, 1 pull and 3 writes against the doc store,
# and 3 temporal queries (SQL and Datalog at a valid time, an hourly
# history-scan rollup) against the devices store. Any stretch of the stream
# carries close to the full mix whatever the seed.
SERVE_DECK = ("entity", "asof", "write", "entity", "q_in", "history", "sql_vt", "entity",
              "asof", "pull", "entity", "write", "q_literal", "datalog_vt", "asof", "entity",
              "history", "entity", "q_any", "write", "history_scan", "asof", "entity")
LITERAL_THRESHOLDS = (0, 250_000, 500_000, 750_000)  # x 100 groups = 400 query texts


class Serve(_NodeStore):
    """Zipf-skewed point reads, Datalog and small writes, one request at a time."""

    n_entities = 5_000
    versions = 5
    with_log = True
    setup_rounds = 1
    whole_passes = True
    # latency_ms_p50 is over point reads: the median of all requests would sit
    # on the edge between the ~0.1 s reads and the 0.3-2 s queries and writes
    latency_classes = ("entity", "asof", "history", "ryw")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(f"serve-{ctx.seed}")
        self.n_writes = 0
        self.n_any = 0
        self.literal_rank = gen.zipf_sampler(self.rng, gen.N_GROUPS * len(LITERAL_THRESHOLDS), 1.1)

    def load(self) -> None:
        super().load()
        self.devices = Devices(self.ctx, self.round)
        self.pick = self.opgen.pick
        self.eids = self.opgen.eids[: len(self.model.entities)]
        self.current = {eid: tl.at(NOW_US) for eid, tl in self.model.entities.items()}

    # -- request builders: each computes its expected answer from the model
    # at the point in the stream where it runs

    def _eid(self) -> str:
        return self.eids[self.pick()]

    def request(self, cls: str) -> list[dict]:
        rng, node = self.rng, self.node
        if cls in Devices.CLASSES:
            return [self.devices.op(cls, rng)]
        if cls == "entity":
            eid = self._eid()
            return [self._read(cls, lambda: node.db().entity(eid), self.current.get(eid))]
        if cls == "asof":
            eid = self._eid()
            t = gen.BASE_US + rng.randrange(200 * 86_400) * gen.SEC
            return [self._read(cls, lambda: node.db(valid_time=gen.from_us(t)).entity(eid),
                               self.model.at(eid, t))]
        if cls == "history":
            eid = self._eid()
            tl = self.model.timeline(eid)
            want = list(zip(tl.times, tl.docs))
            return [self._read(cls, lambda: node.db().entity_history(eid), want, kind="history")]
        if cls in ("q_literal", "q_in", "q_any"):
            if cls == "q_any":  # alternates, so literal and :in are half each
                self.n_any += 1
                cls = "q_literal" if self.n_any % 2 else "q_in"
            rank = self.literal_rank() if cls == "q_literal" else rng.randrange(400)
            grp, thr = rank % gen.N_GROUPS, LITERAL_THRESHOLDS[rank // gen.N_GROUPS]
            want = sorted((e, d["score"]) for e, d in self.current.items()
                          if d is not None and d["grp"] == grp and d["score"] > thr)
            if cls == "q_literal":
                query = {"find": ["?e", "?s"],
                         "where": [["?e", ":grp", grp], ["?e", ":score", "?s"], [[">", "?s", thr]]]}
                fn = lambda: node.db().q(query).collect()  # noqa: E731
            else:
                query = {"find": ["?e", "?s"], "in": ["?g", "?t"],
                         "where": [["?e", ":grp", "?g"], ["?e", ":score", "?s"], [[">", "?s", "?t"]]]}
                fn = lambda: node.db().q(query, grp, thr).collect()  # noqa: E731
            return [self._read(cls, fn, want, kind="rows")]
        if cls == "pull":
            eids = [self._eid() for _ in range(20)]
            want = [None if self.current.get(e) is None else
                    {"name": self.current[e]["name"], "score": self.current[e]["score"]} for e in eids]
            return [self._read(cls, lambda: node.db().pull_many(eids, [":name", ":score"]), want,
                               kind="pull")]
        if cls == "write":
            self.n_writes += 1
            if self.n_writes % 6 == 0:  # a designed abort: its first match fails
                ops = self.opgen.failing_tx(rng.randint(1, 3))
                return [self.write_op(ops, True)]
            ops = self._tx(rng.randint(1, 20))
            eid = _eid_of(ops[-1])
            ryw = self._read("ryw", lambda: node.db().entity(eid), self.current.get(eid))
            return [self.write_op(ops, False), ryw]
        raise ValueError(cls)

    def _tx(self, n_ops: int, kinds=None) -> list[tuple]:
        ops = self.opgen.tx(n_ops, kinds)
        for o in ops:
            self.current[_eid_of(o)] = self.model.at(_eid_of(o), NOW_US)
        return ops

    def _read(self, cls, fn, want, kind="doc") -> dict:
        op = {"cls": cls, "want": want, "kind": kind}

        def run():
            op["got"] = fn()
            return 1

        op["fn"] = run
        return op

    def write_op(self, ops, expect_abort):
        op = super().write_op(ops, expect_abort)
        inner = op["fn"]

        def one_request():
            inner()
            return 1

        op["fn"] = one_request
        return op

    def warmup(self) -> None:
        for cls in ("entity", "asof", "history", "q_literal", "q_in", "pull") + Devices.CLASSES:
            for op in self.request(cls):
                op["fn"]()
        # one write carrying every op kind, then a designed abort
        kinds = [k for k, _ in gen.OpGen.MIX]
        self.write_op(self._tx(len(kinds) + 1, kinds), False)["fn"]()
        self.write_op(self.opgen.failing_tx(1), True)["fn"]()
        self.mark_warm(self.ctx.trace)

    def passes(self):
        while True:
            yield (op for cls in SERVE_DECK for op in self.request(cls))

    def check(self, ops):
        n, m, details = self.check_writes(ops)
        con = self.devices.duckdb()
        try:
            dn, dm, dd = check_duck(con, [op for op in ops if op["cls"] in Devices.CLASSES])
        finally:
            con.close()
        n, m, details = n + dn, m + dm, details + dd
        for op in ops:
            if op["cls"] in ("write",) + Devices.CLASSES or "error" in op:
                continue
            n += 1
            ok = oracles.check_read(op["kind"], op["got"], op["want"])
            if not ok:
                m += 1
                details.append(f"{op['cls']}: got {str(op['got'])[:200]} want {str(op['want'])[:200]}")
        return n, m, details

    def extras(self, trace: bool) -> dict:
        out = self.log_extras(trace)
        out["literal_query_texts"] = gen.N_GROUPS * len(LITERAL_THRESHOLDS)
        return out


class Devices:
    """A ts-devices-shaped store (one entity per device, one version per
    reading) and the temporal queries over it, checked by DuckDB over the raw
    readings."""

    n_devices, n_readings = 200, 48
    CLASSES = ("sql_vt", "datalog_vt", "history_scan")

    def __init__(self, ctx, round_: int):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from crux_spark.node import Node

        n_dev = max(10, int(self.n_devices * ctx.scale))
        readings = gen.devices(ctx.seed, n_dev, self.n_readings)
        self.path = ctx.path(f"r{round_}", "readings.parquet")
        pq.write_table(pa.Table.from_pandas(readings, preserve_index=False), self.path)
        self.node = Node(ctx.spark, schema=gen.DEVICE_SCHEMA, collection="devices")
        self.node.store.bulk_ingest(ctx.spark.createDataFrame(readings), "id", gen.DEVICE_COLS, "ts")

    def op(self, cls: str, rng: random.Random) -> dict:
        from crux_spark.sql import sql_q
        from pyspark.sql import functions as F

        inst = gen.device_instants(rng, self.n_readings)
        node = self.node
        if cls == "sql_vt":
            op = {"cls": cls, "params": [inst["sql_vt"]]}
            text = f"VALIDTIME ('{inst['sql_vt'].isoformat()}Z') " + tpch.DEVICE_SQL

            def fn():
                df = sql_q(node.store, text, name="devices", schema=gen.DEVICE_SCHEMA)
                op["got"] = [tuple(r) for r in df.collect()]
                return 1
        elif cls == "datalog_vt":
            op = {"cls": cls, "params": [inst["dl_vt"]]}

            def fn():
                db = node.db(valid_time=inst["dl_vt"])
                op["got"] = [tuple(r) for r in db.q(tpch.DEVICE_DATALOG).collect()]
                return 1
        elif cls == "history_scan":
            op = {"cls": cls, "params": [inst["scan_from"], inst["scan_to"]]}

            def fn():
                scan = node.store.history_scan(inst["scan_from"], inst["scan_to"])
                doc = F.from_json("doc_json", gen.DEVICE_SCHEMA)
                hourly = (
                    scan.select(F.date_trunc("hour", F.timestamp_micros("valid_from")).alias("h"),
                                doc["battery"].alias("b"))
                    .groupBy("h").agg(F.count("*"), F.avg("b"))
                )
                op["got"] = [tuple(r) for r in hourly.collect()]
                return 1
        else:
            raise ValueError(cls)
        op["fn"] = fn
        return op

    def duckdb(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW readings AS SELECT * FROM read_parquet('{self.path}')")
        return con


def check_duck(con, ops) -> tuple[int, int, list]:
    n = m = 0
    details = []
    for op in ops:
        if "error" in op:
            continue
        n += 1
        want = oracles.duck_expected(con, op["cls"], op["params"])
        if not oracles.same_rows(op["got"], want):
            m += 1
            details.append(f"{op['cls']}{op['params']}: got {op['got'][:3]} want {want[:3]} "
                           f"({len(op['got'])} vs {len(want)} rows)")
    return n, m, details


class Analytics:
    """TPC-H-shaped Datalog with fresh parameters every cycle, plus temporal
    SQL / Datalog / history-scan queries over a ts-devices store."""

    setup_rounds = 1
    whole_passes = False
    state_checks = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(f"analytics-{ctx.seed}")
        self.round = 0

    def load(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from crux_spark.catalog import Catalog

        self.round += 1
        self.tpch_dir = os.path.dirname(self.ctx.path(f"r{self.round}", "tpch", "x"))
        for name, pdf in gen.tpch_tables(self.ctx.seed, self.ctx.scale).items():
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           os.path.join(self.tpch_dir, f"{name}.parquet"))
        self.catalog = Catalog(self.ctx.spark, self.tpch_dir)
        self.devices = Devices(self.ctx, self.round)

    def _query(self, name: str, params: list) -> dict:
        from crux_spark.datalog import compile as dl

        query = tpch.QUERIES[name][0]
        op = {"cls": name, "params": params}

        def fn():
            op["got"] = [tuple(r) for r in dl.compile_query(self.catalog, query, *params).collect()]
            return 1

        op["fn"] = fn
        return op

    def cycle(self) -> list[dict]:
        params = gen.tpch_params(self.rng)
        return ([self._query(name, params[name]) for name in tpch.QUERIES]
                + [self.devices.op(cls, self.rng) for cls in Devices.CLASSES])

    def warmup(self) -> None:
        for op in self.cycle():
            op["fn"]()

    def passes(self):
        while True:
            yield self.cycle()

    def check(self, ops):
        con = self.devices.duckdb()
        try:
            for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                path = os.path.join(self.tpch_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            return check_duck(con, ops)
        finally:
            con.close()

    def extras(self, trace: bool) -> dict:
        return {"queries_per_cycle": len(tpch.QUERIES) + len(Devices.CLASSES)}


class DedupPipeline:
    """textops.analyze -> exact dups -> MinHash LSH pairs -> components keep-list
    over a parquet corpus with planted duplicate clusters."""

    setup_rounds = 3
    whole_passes = True
    state_checks = 0
    n_docs = 4_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.round = 0
        self.quality: list[dict] = []
        self.cc_rounds: list[int] = []
        self.stage_s: dict[str, float] = {}

    def load(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.round += 1
        n = max(100, int(self.n_docs * self.ctx.scale))
        self.pdf, self.truth = gen.corpus(self.ctx.seed, n)
        path = self.ctx.path(f"r{self.round}", "corpus.parquet")
        pq.write_table(pa.Table.from_pandas(self.pdf, preserve_index=False), path)
        self.df = self.ctx.spark.read.parquet(path)

    def pipeline(self) -> dict:
        from crux_spark.operators import dedup, graph, textops

        tr, spark, df = self.ctx.tracer, self.ctx.spark, self.df
        op = {"cls": "pipeline", "stage_s": {}}

        def stage(name, fn):
            a = time.perf_counter()
            with tr.span(name):
                out = fn()
            op["stage_s"][name] = time.perf_counter() - a
            return out

        def fn():
            op["analyze"] = stage(
                "operators.textops.analyze",
                lambda: [(r.doc_id, r.n_tokens) for r in
                         textops.analyze(df).select("doc_id", "n_tokens").collect()])
            op["exact"] = stage(
                "operators.dedup.exact",
                lambda: [list(r.dup_ids) for r in dedup.exact_duplicates(df).collect()])
            op["pairs"] = stage(
                "operators.dedup.minhash_lsh",
                lambda: [(r.id_a, r.id_b, r.est_jaccard) for r in dedup.minhash_lsh_pairs(df).collect()])
            cc_stats: dict = {}

            def components():
                pairs = spark.createDataFrame(
                    [(a, b) for a, b, _ in op["pairs"]], "id_a long, id_b long")
                return [(r.id, r.component) for r in
                        graph.connected_components(pairs, stats=cc_stats).collect()]

            op["components"] = stage("operators.graph.components", components)
            op["cc_rounds"] = cc_stats.get("rounds", 0)
            return len(self.pdf)

        op["fn"] = fn
        return op

    def warmup(self) -> None:
        # a full pass: after a pass over a slice of the corpus the first
        # full-size pass still cost ~40 % more CPU than later ones
        self.pipeline()["fn"]()

    def passes(self):
        while True:
            yield [self.pipeline()]

    def check(self, ops):
        n = m = 0
        details = []
        self.quality, self.cc_rounds = [], []
        self.stage_s = {name: statistics.median(op["stage_s"][name] for op in ops if "error" not in op)
                        for name in (ops[0]["stage_s"] if ops else {})}
        for op in ops:
            if "error" in op:
                continue
            self.cc_rounds.append(op["cc_rounds"])
            verdict = oracles.check_dedup(op, self.pdf, self.truth)
            self.quality.append(verdict)
            n += 1
            if verdict["problems"]:
                m += 1
                details.extend(verdict["problems"][:3])
        return n, m, details

    def extras(self, trace: bool) -> dict:
        q = self.quality or [{"planted_recall": 0.0, "pair_precision": 0.0}]
        return {
            "operators.dedup.planted_recall": statistics.mean(v["planted_recall"] for v in q),
            "operators.dedup.pair_precision": statistics.mean(v["pair_precision"] for v in q),
            "operators.graph.cc_rounds": statistics.mean(self.cc_rounds or [0]),
            "stage_s_p50": self.stage_s,
            "docs": self.n_docs,
            "clusters": len(self.truth["clusters"]),
        }

