"""Metrics registry + reporters (the crux-metrics module surface).

The reference wires dropwizard gauges/meters/timers to the node's event
bus and ships them through scheduled reporters
(crux-metrics/src/crux/metrics/{dropwizard,index_store,query,console,
csv}.clj). The Spark recast keeps the same metric NAMES and semantics —
["index-store" "tx-id-lag"], ["index-store" "indexed-docs"],
["query" "timer"], ["query" "currently-running"] — over plain Python
counters (driver-side observability; executor-side metrics belong to
Spark's own MetricsSystem, which a cluster deployment scrapes directly).

The Prometheus surface (crux-metrics/src/crux/metrics/prometheus.clj) is
ported natively: prometheus_text renders the registry in the text
exposition format (the DropwizardExports mapping — meters -> counters,
timers -> summaries), PrometheusHttpExporter is the ->http-exporter
standalone scrape server, and PrometheusPushReporter is the ->reporter
push-gateway loop. JMX and CloudWatch stay out of scope (no JVM MBean
server / AWS endpoint in this environment); CallbackReporter is the seam
where they'd plug in.
"""

from __future__ import annotations

import csv
import logging
import os
import threading
import time
from typing import Any, Callable


def _name(parts) -> str:
    return ".".join(parts) if isinstance(parts, (list, tuple)) else str(parts)


class Meter:
    """Monotone event counter (dropwizard meter minus the moving rates —
    rates are a reporter-side derivative of (count, wallclock))."""

    def __init__(self):
        self.count = 0

    def mark(self, n: int = 1) -> None:
        self.count += n


class Timer:
    """Count + total/min/max duration, started/stopped per event
    (dropwizard.clj start/stop)."""

    def __init__(self):
        self.count = 0
        self.total = 0.0
        self.min: float | None = None
        self.max: float | None = None

    def start(self) -> "_TimerContext":
        return _TimerContext(self)

    def update(self, seconds: float) -> None:
        self.count += 1
        self.total += seconds
        self.min = seconds if self.min is None else min(self.min, seconds)
        self.max = seconds if self.max is None else max(self.max, seconds)


class _TimerContext:
    def __init__(self, timer: Timer):
        self.timer = timer
        self.t0 = time.perf_counter()

    def stop(self) -> float:
        dt = time.perf_counter() - self.t0
        self.timer.update(dt)
        return dt


class MetricsRegistry:
    """Named gauges (zero-arg callables, evaluated at read time), meters
    and timers (metrics.clj registry)."""

    def __init__(self):
        self.gauges: dict[str, Callable[[], Any]] = {}
        self.meters: dict[str, Meter] = {}
        self.timers: dict[str, Timer] = {}

    def gauge(self, name, fn: Callable[[], Any]) -> Callable[[], Any]:
        self.gauges[_name(name)] = fn
        return fn

    def meter(self, name) -> Meter:
        return self.meters.setdefault(_name(name), Meter())

    def timer(self, name) -> Timer:
        return self.timers.setdefault(_name(name), Timer())

    def snapshot(self) -> dict[str, Any]:
        """Flat name -> value map: gauges evaluate now; meters report
        count; timers report count/total/mean/min/max."""
        out: dict[str, Any] = {}
        for n, fn in self.gauges.items():
            try:
                out[n] = fn()
            except Exception as e:  # a broken gauge must not kill a report
                out[n] = f"<error: {e!r}>"
        for n, m in self.meters.items():
            out[n + ".count"] = m.count
        for n, t in self.timers.items():
            out[n + ".count"] = t.count
            out[n + ".total_s"] = round(t.total, 6)
            out[n + ".mean_s"] = round(t.total / t.count, 6) if t.count else None
            out[n + ".min_s"] = None if t.min is None else round(t.min, 6)
            out[n + ".max_s"] = None if t.max is None else round(t.max, 6)
        return out


# --------------------------------------------------------------- listeners


def assign_index_store_listeners(registry: MetricsRegistry, node) -> dict:
    """index_store.clj assign-listeners: tx-id-lag / tx-latency gauges,
    indexed-docs / indexed-avs meters, indexed-txs meter — driven by the
    node's indexed-tx events — plus entity-cache hits / misses /
    evictions / entries / bytes gauges."""
    docs_m = registry.meter(["index-store", "indexed-docs"])
    avs_m = registry.meter(["index-store", "indexed-avs"])
    txs_m = registry.meter(["index-store", "indexed-txs"])
    last_latency = {"v": 0.0}

    def on_tx(event: dict) -> None:
        if event.get("event_type") != "indexed-tx":
            return
        txs_m.mark()
        ops = event.get("tx_ops") or []
        put_docs = [op[1] for op in ops if op and op[0] == "put"]
        docs_m.mark(len(put_docs))
        avs_m.mark(sum(len(d) for d in put_docs if isinstance(d, dict)))
        last_latency["v"] = time.time() - event.get("submitted_at", time.time())

    unsubscribe = node.listen(on_tx)

    def tx_id_lag():
        completed = node.store.latest_completed_tx()
        submitted = node.store.latest_submitted_tx()
        if completed is None or submitted is None:
            return None
        return submitted - completed

    registry.gauge(["index-store", "tx-id-lag"], tx_id_lag)

    def tx_latency():  # reset-on-read, like the reference's reset-vals!
        v, last_latency["v"] = last_latency["v"], 0.0
        return round(v, 6)

    registry.gauge(["index-store", "tx-latency"], tx_latency)
    # the store's entity-history cache (TxStore.entity_cache_stats),
    # read through node.store at evaluation time
    for stat in ("hits", "misses", "evictions", "entries", "bytes"):
        registry.gauge(
            ["index-store", "entity-cache", stat],
            lambda stat=stat: node.store.entity_cache_stats()[stat],
        )
    return {
        "docs_ingested_meter": docs_m,
        "avs_ingested_meter": avs_m,
        "txs_indexed_meter": txs_m,
        "unsubscribe": unsubscribe,
    }


def assign_query_listeners(registry: MetricsRegistry, node) -> dict:
    """query.clj assign-listeners: one timer across submitted ->
    completed/failed, plus a currently-running gauge."""
    query_timer = registry.timer(["query", "timer"])
    contexts: dict[str, _TimerContext] = {}

    def on_query(event: dict) -> None:
        qid = event["query_id"]
        if event["event_type"] == "submitted-query":
            contexts[qid] = query_timer.start()
        else:  # completed-query / failed-query
            ctx = contexts.pop(qid, None)
            if ctx is not None:
                ctx.stop()

    unsubscribe = node.listen_queries(on_query)
    registry.gauge(["query", "currently-running"], lambda: len(contexts))
    return {"query_timer": query_timer, "unsubscribe": unsubscribe}


def assign_node_metrics(registry: MetricsRegistry, node) -> dict:
    """Wire the full crux-metrics set onto a node."""
    out = assign_index_store_listeners(registry, node)
    out.update(assign_query_listeners(registry, node))
    return out


# --------------------------------------------------------------- reporters


class _ScheduledReporter:
    """Base scheduled reporter (dropwizard ScheduledReporter): report()
    on demand, or start(freq)/close() for a background schedule."""

    def __init__(self, registry: MetricsRegistry, report_frequency: float = 1.0):
        self.registry = registry
        self.report_frequency = report_frequency
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def report(self) -> dict[str, Any]:
        snap = self.registry.snapshot()
        self.emit(snap)
        return snap

    def emit(self, snap: dict[str, Any]) -> None:  # pragma: no cover
        raise NotImplementedError

    def start(self) -> "_ScheduledReporter":
        def loop():
            while not self._stop.wait(self.report_frequency):
                # dropwizard ScheduledReporter logs and continues: a
                # transient emit failure must not kill the schedule thread.
                try:
                    self.report()
                except Exception:
                    logging.getLogger(__name__).warning(
                        "scheduled metrics report failed", exc_info=True)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.report()  # final flush, like dropwizard's close


class ConsoleReporter(_ScheduledReporter):
    """console.clj ->reporter: aligned name/value dump to a stream."""

    def __init__(self, registry, report_frequency: float = 1.0, stream=None):
        super().__init__(registry, report_frequency)
        self.stream = stream

    def emit(self, snap: dict[str, Any]) -> None:
        import sys

        out = self.stream or sys.stdout
        width = max((len(k) for k in snap), default=0)
        print(time.strftime("-- %Y-%m-%d %H:%M:%S " + "-" * 40), file=out)
        for k in sorted(snap):
            print(f"{k:<{width}}  {snap[k]}", file=out)


class CsvReporter(_ScheduledReporter):
    """csv.clj ->reporter: one csv file PER METRIC under output_dir
    (dropwizard CsvReporter layout), one (timestamp, value) row per
    report."""

    def __init__(self, registry, output_dir: str, report_frequency: float = 1.0):
        super().__init__(registry, report_frequency)
        self.output_dir = output_dir
        os.makedirs(output_dir, exist_ok=True)

    def emit(self, snap: dict[str, Any]) -> None:
        ts = int(time.time())
        for k, v in snap.items():
            path = os.path.join(self.output_dir, k + ".csv")
            new = not os.path.exists(path)
            with open(path, "a", newline="") as f:
                w = csv.writer(f)
                if new:
                    w.writerow(["t", "value"])
                w.writerow([ts, v])


class CallbackReporter(_ScheduledReporter):
    """The seam for JMX/Prometheus/CloudWatch analogues: hand every
    snapshot to a user callable."""

    def __init__(self, registry, fn: Callable[[dict], None],
                 report_frequency: float = 1.0):
        super().__init__(registry, report_frequency)
        self.fn = fn

    def emit(self, snap: dict[str, Any]) -> None:
        self.fn(snap)

# ------------------------------------------------------------- prometheus
#
# Port of crux-metrics/src/crux/metrics/prometheus.clj. The reference
# bridges its dropwizard registry through DropwizardExports into either
# a standalone scrape server (->http-exporter, iapetos/standalone) or a
# push-gateway reporter (->reporter, PrometheusReporter + Pushgateway).
# Here the registry renders straight to the text exposition format
# (version 0.0.4) with the same type mapping DropwizardExports uses:
# meters -> counters (_total), timers -> summaries (_count/_sum, plus
# min/max gauges), gauges -> gauges; dotted dropwizard names become
# underscore-separated prometheus names under the crux_ prefix.


def _prom_name(name: str, prefix: str = "crux") -> str:
    import re

    n = re.sub(r"[^a-zA-Z0-9_:]", "_", f"{prefix}_{name}" if prefix else name)
    return "_" + n if n[:1].isdigit() else n


def _prom_value(v) -> str | None:
    """Prometheus sample value, or None when the reading is unrepresentable
    (a broken gauge, a string) — the exporter skips it rather than emit an
    invalid line."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, float)):
        return repr(float(v)) if isinstance(v, float) else str(v)
    return None


def prometheus_text(registry: MetricsRegistry, prefix: str = "crux") -> str:
    """Text exposition format (0.0.4) of the whole registry, the payload
    a Prometheus server scrapes. Gauges evaluate now; a gauge that raises
    is skipped (a broken gauge must not kill a scrape, same contract as
    snapshot())."""
    lines: list[str] = []
    for n, fn in sorted(registry.gauges.items()):
        try:
            raw = fn()
        except Exception:
            continue
        val = _prom_value(raw)
        if val is None:
            continue
        pn = _prom_name(n, prefix)
        lines.append(f"# TYPE {pn} gauge")
        lines.append(f"{pn} {val}")
    for n, m in sorted(registry.meters.items()):
        pn = _prom_name(n, prefix) + "_total"
        lines.append(f"# TYPE {pn} counter")
        lines.append(f"{pn} {m.count}")
    for n, t in sorted(registry.timers.items()):
        pn = _prom_name(n, prefix) + "_seconds"
        lines.append(f"# TYPE {pn} summary")
        lines.append(f"{pn}_count {t.count}")
        lines.append(f"{pn}_sum {repr(round(t.total, 9))}")
        for suffix, v in (("min", t.min), ("max", t.max)):
            val = _prom_value(v)
            if val is not None:
                lines.append(f"# TYPE {pn}_{suffix} gauge")
                lines.append(f"{pn}_{suffix} {val}")
    return "\n".join(lines) + "\n"


PROMETHEUS_CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"


class PrometheusHttpExporter:
    """->http-exporter: a standalone GET /metrics scrape server over the
    registry (any path serves the metrics, like iapetos' standalone
    server). port=0 picks a free port (exposed as .port)."""

    def __init__(self, registry: MetricsRegistry, host: str = "127.0.0.1",
                 port: int = 0, prefix: str = "crux"):
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        outer_registry, outer_prefix = registry, prefix

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                body = prometheus_text(outer_registry, outer_prefix).encode()
                self.send_response(200)
                self.send_header("Content-Type", PROMETHEUS_CONTENT_TYPE)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.server = ThreadingHTTPServer((host, port), Handler)
        self.port = self.server.server_address[1]
        self.url = f"http://{host}:{self.port}/metrics"
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


class PrometheusPushReporter(_ScheduledReporter):
    """->reporter: push the exposition text to a Prometheus push gateway
    on the report schedule (PUT /metrics/job/<job>, the pushgateway
    protocol — replace-on-push, which matches a whole-registry render)."""

    def __init__(self, registry: MetricsRegistry, push_gateway: str,
                 job: str = "crux", prefix: str = "crux",
                 report_frequency: float = 1.0):
        super().__init__(registry, report_frequency)
        self.push_url = push_gateway.rstrip("/") + f"/metrics/job/{job}"
        self.prefix = prefix
        self.last_error: Exception | None = None

    def emit(self, snap) -> None:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.push_url,
            data=prometheus_text(self.registry, self.prefix).encode(),
            headers={"Content-Type": PROMETHEUS_CONTENT_TYPE},
            method="PUT",
        )
        # Log-and-continue on transport errors (dropwizard
        # ScheduledReporter contract): one transient gateway failure must
        # not kill the schedule thread or raise out of close()'s flush.
        try:
            with urllib.request.urlopen(req, timeout=30):
                pass
            self.last_error = None
        except (urllib.error.URLError, OSError) as exc:
            self.last_error = exc
            logging.getLogger(__name__).warning(
                "prometheus push to %s failed: %s", self.push_url, exc)
