"""Regression guard for the round-1 blocker: the correctness driver builds a
VANILLA SparkSession (no engine confs) and calls queries()[name](spark, sf).
Round 1, Catalog.__init__ eagerly read events.parquet (TIMESTAMP(NANOS)) and
died with PARQUET_TYPE_ILLEGAL on any session lacking
spark.sql.legacy.parquet.nanosAsLong — zeroing all 49 gates.

The engine must self-configure (Catalog.ensure_runtime_confs) and register
tables lazily so one bad file can't sink unrelated queries. Because confs
like nanosAsLong stick per-JVM once set, this test spawns a FRESH subprocess
that builds a bare session — same shape as the driver's harness.
"""

import pytest
import json
import subprocess
import sys
import textwrap

SCRIPT = textwrap.dedent(
    """
    import json
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("vanilla-gate-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    out = {}
    # one query per subsystem: TPC-H/Datalog, events (the nanos table),
    # bitemporal store, dedup, embeddings
    for name in [
        "tpch_q1",
        "events_asof",
        "bitemporal_store_asof",
        "dedup_exact",
        "ann_brute_force",
    ]:
        df = qs[name](spark, sf)
        out[name] = df.count()
    # entry() itself is smoke-checked by the driver on a vanilla session too
    out["entry"] = entry.entry(spark).count()
    print("RESULT:" + json.dumps(out))
    """
)


@pytest.mark.full
def test_gates_run_on_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-4000:]}"
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, f"no RESULT line in stdout:\n{proc.stdout[-2000:]}"
    counts = json.loads(line[0][len("RESULT:"):])
    assert counts["tpch_q1"] == 6
    assert counts["events_asof"] > 0
    assert counts["bitemporal_store_asof"] > 0
    assert counts["entry"] >= 0


BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


def test_get_spark_session_keeps_its_broadcast_threshold(spark):
    """A Datalog query on a get_spark() session leaves the builder's
    16MB broadcast threshold in place (session.py records the A/B that
    chose it); the catalog's runtime confs only fill unset keys."""
    from crux_spark.node import Node

    s = spark.newSession()  # the builder's confs, isolated from other tests
    assert s.conf.get(BROADCAST) == "16MB"
    node = Node(s, schema="id string, v bigint")
    node.submit_tx([("put", {"id": "a", "v": 1})])
    node.await_tx()
    query = {"find": ["?e"], "where": [["?e", ":v", 1]]}
    assert [r[0] for r in node.db().q(query).collect()] == ["a"]
    assert s.conf.get(BROADCAST) == "16MB"


def test_runtime_confs_fill_unset_keys_once_per_session(spark):
    """Catalog sets a tuning conf only where the session has none, and
    only for the first catalog built on that session."""
    from crux_spark import Catalog

    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    s = spark.newSession()
    s.conf.set(BROADCAST, "3MB")
    s.conf.unset(arrow)
    assert s.conf.get(arrow, None) is None
    Catalog(s)
    assert s.conf.get(BROADCAST) == "3MB"
    assert s.conf.get(arrow) == "true"
    s.conf.unset(arrow)
    Catalog(s)
    assert s.conf.get(arrow, None) is None


def test_catalog_forces_the_confs_results_depend_on(spark):
    """The session time zone, map-key dedup policy and parquet nanos
    handling decide what queries return, so every Catalog sets them,
    over a value the session already has."""
    from crux_spark import Catalog

    s = spark.newSession()
    Catalog(s)
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    cat = Catalog(s)
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s.conf.get("spark.sql.mapKeyDedupPolicy") == "LAST_WIN"
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    ts = cat.spark.sql(
        "SELECT CAST(timestamp_seconds(0) AS STRING) AS t"
    ).first().t
    assert ts == "1970-01-01 00:00:00"
