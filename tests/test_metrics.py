"""Metrics registry + node listeners + reporters — the crux-metrics
surface (crux-test/test/crux/metrics_test.clj ported: index-store and
query metric lifecycles around a real ingest + query)."""

import io

import pytest

from crux_spark.metrics import (
    CallbackReporter,
    ConsoleReporter,
    CsvReporter,
    MetricsRegistry,
    assign_node_metrics,
)
from crux_spark.node import Node


@pytest.fixture()
def node(spark):
    return Node(spark, schema="id string, name string, score long")


def test_index_store_metrics(node):
    """metrics_test.clj test-index-store-metrics: meters zero before
    ingest, counted after; tx-id-lag settles to zero; tx-latency gauge
    is positive once then resets on read."""
    reg = MetricsRegistry()
    mets = assign_node_metrics(reg, node)
    assert reg.gauges["index-store.tx-id-lag"]() is None
    assert mets["docs_ingested_meter"].count == 0
    assert mets["txs_indexed_meter"].count == 0

    node.submit_tx([("put", {"id": "t1", "name": "Ivan", "score": 1})])
    node.await_tx()

    assert mets["docs_ingested_meter"].count == 1
    assert mets["txs_indexed_meter"].count == 1
    assert mets["avs_ingested_meter"].count == 3  # id + name + score
    assert reg.gauges["index-store.tx-id-lag"]() == 0
    lat = reg.gauges["index-store.tx-latency"]()
    assert lat > 0
    assert reg.gauges["index-store.tx-latency"]() == 0  # reset-on-read


def test_entity_cache_gauges(node):
    """The store's entity-cache counters are index-store gauges: the
    registry snapshot and the Prometheus text both read
    TxStore.entity_cache_stats() at evaluation time."""
    from crux_spark.metrics import prometheus_text

    reg = MetricsRegistry()
    assign_node_metrics(reg, node)
    node.submit_tx([("put", {"id": "t1", "name": "Ivan", "score": 1})])
    node.await_tx()
    db = node.db()
    assert db.entity("t1")["name"] == "Ivan"  # miss
    assert db.entity("t1")["name"] == "Ivan"  # hit
    assert db.entity("nope") is None  # miss, then cached as empty
    stats = node.store.entity_cache_stats()
    assert stats == {"hits": 1, "misses": 2, "evictions": 0,
                     "entries": 2, "bytes": stats["bytes"]}
    assert stats["bytes"] > 0
    snap = reg.snapshot()
    for k, v in stats.items():
        assert snap[f"index-store.entity-cache.{k}"] == v
    lines = prometheus_text(reg).splitlines()
    assert "# TYPE crux_index_store_entity_cache_hits gauge" in lines
    assert "crux_index_store_entity_cache_misses 2" in lines
    assert "crux_index_store_entity_cache_entries 2" in lines


def test_query_metrics(node):
    """metrics_test.clj test-query-metrics: the query timer counts both
    completed and failed queries; currently-running drains to zero."""
    reg = MetricsRegistry()
    mets = assign_node_metrics(reg, node)
    assert mets["query_timer"].count == 0

    node.submit_tx([("put", {"id": "t1", "name": "Ivan", "score": 1})])
    node.await_tx()
    rows = node.db().q_collect(
        {"find": ["?e"], "where": [["?e", ":name", "Ivan"]]}
    )
    assert rows == [("t1",)]
    with pytest.raises(Exception):
        node.db().q_collect(
            {"find": ["?f"], "where": [["?e", ":name", "Ivan"]]}
        )
    assert mets["query_timer"].count == 2
    assert mets["query_timer"].total > 0
    assert reg.gauges["query.currently-running"]() == 0


def test_reporters(node, tmp_path):
    reg = MetricsRegistry()
    assign_node_metrics(reg, node)
    node.submit_tx([("put", {"id": "t1", "name": "Ivan", "score": 1})])
    node.await_tx()

    buf = io.StringIO()
    snap = ConsoleReporter(reg, stream=buf).report()
    text = buf.getvalue()
    assert "index-store.indexed-docs.count" in text
    assert snap["index-store.indexed-docs.count"] == 1

    d = str(tmp_path / "metrics")
    csvr = CsvReporter(reg, d)
    csvr.report()
    csvr.report()
    rows = open(f"{d}/index-store.indexed-txs.count.csv").read().splitlines()
    assert rows[0] == "t,value" and len(rows) == 3

    seen = []
    CallbackReporter(reg, seen.append).report()
    assert seen and seen[0]["index-store.indexed-txs.count"] == 1

    # scheduled mode: background thread reports at frequency, final
    # flush on close
    seen2 = []
    rep = CallbackReporter(reg, seen2.append, report_frequency=0.05).start()
    import time

    time.sleep(0.2)
    rep.close()
    assert len(seen2) >= 2


def test_broken_gauge_does_not_kill_report():
    reg = MetricsRegistry()
    reg.gauge("bad", lambda: 1 / 0)
    reg.meter("ok").mark(2)
    snap = reg.snapshot()
    assert snap["ok.count"] == 2
    assert "error" in str(snap["bad"])


def test_prometheus_text_families(node):
    """r10 (verdict #4): the Prometheus exposition of the index-store +
    query listener families — counter/gauge/summary types with the
    DropwizardExports name mapping, values matching the registry."""
    from crux_spark.metrics import prometheus_text

    reg = MetricsRegistry()
    assign_node_metrics(reg, node)
    node.submit_tx([("put", {"id": "t1", "name": "Ivan", "score": 1})])
    node.await_tx()
    node.db().q_collect({"find": ["?e"], "where": [["?e", ":name", "Ivan"]]})

    text = prometheus_text(reg)
    lines = text.splitlines()
    # meters -> counters
    assert "# TYPE crux_index_store_indexed_docs_total counter" in lines
    assert "crux_index_store_indexed_docs_total 1" in lines
    assert "crux_index_store_indexed_txs_total 1" in lines
    assert "crux_index_store_indexed_avs_total 3" in lines
    # gauges evaluate at scrape time
    assert "# TYPE crux_index_store_tx_id_lag gauge" in lines
    assert "crux_index_store_tx_id_lag 0" in lines
    assert "crux_query_currently_running 0" in lines
    # timers -> summaries with _count/_sum + min/max gauges
    assert "# TYPE crux_query_timer_seconds summary" in lines
    assert "crux_query_timer_seconds_count 1" in lines
    s = [l for l in lines if l.startswith("crux_query_timer_seconds_sum ")]
    assert s and float(s[0].split()[1]) > 0
    assert any(l.startswith("crux_query_timer_seconds_min ") for l in lines)
    # a broken gauge is skipped, not rendered
    reg.gauge("bad", lambda: 1 / 0)
    reg.gauge("stringy", lambda: "not a number")
    text2 = prometheus_text(reg)
    assert "bad" not in text2 and "stringy" not in text2


def test_prometheus_http_exporter_and_facade_route(node):
    """->http-exporter: a live scrape over HTTP returns the exposition
    with the prometheus content type — standalone server AND the node
    facade's /metrics route."""
    import urllib.request

    from crux_spark.http import HttpNode
    from crux_spark.metrics import (
        PROMETHEUS_CONTENT_TYPE,
        PrometheusHttpExporter,
    )

    reg = MetricsRegistry()
    assign_node_metrics(reg, node)
    node.submit_tx([("put", {"id": "t1", "name": "Ivan", "score": 1})])
    node.await_tx()

    exp = PrometheusHttpExporter(reg)
    try:
        with urllib.request.urlopen(exp.url, timeout=30) as r:
            assert r.headers["Content-Type"] == PROMETHEUS_CONTENT_TYPE
            body = r.read().decode()
        assert "crux_index_store_indexed_docs_total 1" in body
    finally:
        exp.close()

    h = HttpNode(node, metrics_registry=reg)
    try:
        with urllib.request.urlopen(h.url + "/metrics", timeout=30) as r:
            assert r.headers["Content-Type"] == PROMETHEUS_CONTENT_TYPE
            assert "crux_index_store_indexed_txs_total 1" in r.read().decode()
    finally:
        h.close()


def test_prometheus_push_reporter(node):
    """->reporter: the push-gateway loop PUTs the exposition to
    /metrics/job/<job> on schedule; a fake gateway captures the pushes."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from crux_spark.metrics import PrometheusPushReporter

    pushes = []

    class Gateway(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_PUT(self):
            n = int(self.headers.get("Content-Length") or 0)
            pushes.append((self.path, self.rfile.read(n).decode()))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

    gw = ThreadingHTTPServer(("127.0.0.1", 0), Gateway)
    threading.Thread(target=gw.serve_forever, daemon=True).start()
    try:
        reg = MetricsRegistry()
        reg.meter("pushes").mark(5)
        rep = PrometheusPushReporter(
            reg, f"http://127.0.0.1:{gw.server_address[1]}",
            job="testjob", report_frequency=0.05,
        ).start()
        import time

        time.sleep(0.2)
        rep.close()
        assert len(pushes) >= 2
        path, body = pushes[-1]
        assert path == "/metrics/job/testjob"
        assert "crux_pushes_total 5" in body
    finally:
        gw.shutdown()
        gw.server_close()


def test_push_reporter_survives_gateway_failure():
    """r10 advice: a transient push failure must not kill the schedule
    thread (dropwizard's log-and-continue contract) and close()'s final
    flush must not raise; pushes resume once the gateway is back."""
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from crux_spark.metrics import PrometheusPushReporter

    pushes = []
    fail = threading.Event()
    fail.set()

    class FlakyGateway(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_PUT(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n).decode()
            if fail.is_set():
                self.send_response(502)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            pushes.append(body)
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

    gw = ThreadingHTTPServer(("127.0.0.1", 0), FlakyGateway)
    threading.Thread(target=gw.serve_forever, daemon=True).start()
    try:
        reg = MetricsRegistry()
        reg.meter("flaky").mark(3)
        rep = PrometheusPushReporter(
            reg, f"http://127.0.0.1:{gw.server_address[1]}",
            job="flakyjob", report_frequency=0.05,
        ).start()
        time.sleep(0.2)  # several failing pushes — thread must survive
        assert rep.last_error is not None
        fail.clear()  # gateway recovers
        deadline = time.time() + 5
        while not pushes and time.time() < deadline:
            time.sleep(0.05)
        assert pushes, "reporter thread died during the outage"
        assert "crux_flaky_total 3" in pushes[-1]
        fail.set()
        rep.close()  # final flush fails -> must not raise
        assert rep.last_error is not None
    finally:
        gw.shutdown()
        gw.server_close()
