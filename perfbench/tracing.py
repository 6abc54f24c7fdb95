"""In-memory span tracing of the library's public functions.

``Tracer.install()`` replaces each function in ``TARGETS`` with a wrapper
that, while tracing is enabled, records a span ``(name, start, end, parent,
request)``. Spans stay in memory; ``dump`` writes them once, at exit. The
benchmark process is a single-threaded closed loop, so spans nest strictly
and a span's self time is its duration minus the time its direct children
cover. Calls made from other threads are not recorded.
"""

from __future__ import annotations

import importlib
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute path, span name). Functions that other modules bind
# by name at import time are patched at every binding site.
TARGETS = [
    ("crux_spark.bitemporal.store", "TxStore.submit_tx", "store.submit"),
    ("crux_spark.bitemporal.store", "TxStore.commit", "store.commit"),
    ("crux_spark.bitemporal.store", "TxStore.entity", "store.entity"),
    ("crux_spark.bitemporal.store", "TxStore.entity_history", "store.history"),
    ("crux_spark.bitemporal.store", "TxStore.history_scan", "store.history_scan"),
    ("crux_spark.bitemporal.store", "TxStore.bulk_ingest", "store.bulk_ingest"),
    ("crux_spark.bitemporal.txlog", "JsonlTxLog.append", "txlog.append"),
    ("crux_spark.bitemporal.docstore", "JsonlDocStore.submit_docs", "docstore.submit"),
    ("crux_spark.node", "Node.await_tx", "node.await"),
    ("crux_spark.node", "Db.catalog", "node.catalog"),
    ("crux_spark.node", "Db.q", "node.q"),
    ("crux_spark.datalog.compile", "compile_query", "datalog.compile"),
    ("crux_spark.datalog", "compile_query", "datalog.compile"),
    ("crux_spark.node", "compile_query", "datalog.compile"),
    ("crux_spark.datalog.pull", "pull", "datalog.pull"),
    ("crux_spark.node", "_pull", "datalog.pull"),
    ("crux_spark.sql", "sql_q", "sql.sql_q"),
    # the execution engine: time inside the actions that run Spark jobs
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.exec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "spark.exec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "spark.exec"),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "spark.exec"),
]


def self_times(spans: list[dict]) -> list[float]:
    """Per-span self time: duration minus the durations of direct children."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """name -> {'calls', 'self_s', 'total_s'}; total_s counts only outermost
    spans of a name, so recursion is not double counted."""
    out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "total_s": 0.0})
    for i, (s, st) in enumerate(zip(spans, self_times(spans))):
        agg = out[s["name"]]
        agg["calls"] += 1
        agg["self_s"] += st
        p = s["parent"]
        while p is not None and spans[p]["name"] != s["name"]:
            p = spans[p]["parent"]
        if p is None:
            agg["total_s"] += s["end"] - s["start"]
    return dict(out)


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self.enabled = False
        self.request: int | None = None
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._thread:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": self.clock(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = self.clock()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def _wrapper(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    def install(self, targets=TARGETS) -> None:
        for mod_name, path, name in targets:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrapper(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def window(self, t0: float, t1: float) -> list[dict]:
        """Spans that start inside [t0, t1], with parents re-indexed."""
        keep = [i for i, s in enumerate(self.spans) if t0 <= s["start"] <= t1 and s["end"] is not None]
        remap = {old: new for new, old in enumerate(keep)}
        out = []
        for i in keep:
            s = dict(self.spans[i])
            s["parent"] = remap.get(s["parent"])
            out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
