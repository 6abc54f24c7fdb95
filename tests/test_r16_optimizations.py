"""Focused pins for the r16 optimization-round internals changes:

- ``parse_byte_size`` must accept every Spark-style size form (plain
  bytes, "128b", "128m", "64MB", "1g") — the r15 form silently disabled
  the skip-repartition optimization under human-readable configs.
- ``input_size_bytes`` must size a path through the Hadoop FileSystem
  API (cluster-safe) and agree with the local-disk walk for file:// /
  bare local paths; a missing path degrades to 0, never raises.
- ``gateway_token`` must be stable while the gateway object is alive
  (expression caches keep hitting) and must NOT alias a different
  gateway object even if CPython reuses the old object's id.
- ``TxStore._tx_id`` lazy seeding: a versions frame handed WHOLESALE to
  the public constructor must not let a subsequent ``submit_tx`` reuse
  existing tx ids (bulk_ingest no longer self-heals this with a
  post-merge max aggregate).
"""

import os

from pyspark.sql import functions as F


def test_parse_byte_size_forms():
    from crux_spark._conf import parse_byte_size

    d = 128 << 20
    assert parse_byte_size(None, d) == d
    assert parse_byte_size("134217728", d) == 134217728
    assert parse_byte_size("134217728b", d) == 134217728
    assert parse_byte_size("128m", d) == 128 << 20
    assert parse_byte_size("128MB", d) == 128 << 20
    assert parse_byte_size("64k", d) == 64 << 10
    assert parse_byte_size("1g", d) == 1 << 30
    assert parse_byte_size("2t", d) == 2 << 40
    assert parse_byte_size(" 256 m ", d) == 256 << 20
    assert parse_byte_size(134217728, d) == 134217728
    # malformed -> default, never raises
    assert parse_byte_size("lots", d) == d
    assert parse_byte_size("12.5m", d) == d
    assert parse_byte_size("", d) == d


def test_input_size_bytes_local_and_scheme(spark, tmp_path):
    from crux_spark._conf import input_size_bytes

    p = tmp_path / "data"
    p.mkdir()
    (p / "a.bin").write_bytes(b"x" * 1000)
    sub = p / "sub"
    sub.mkdir()
    (sub / "b.bin").write_bytes(b"y" * 2345)
    walk = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(p)
        for f in fs
    )
    assert walk == 3345
    # bare local path and an explicit scheme (the non-local form the
    # Hadoop FS resolves itself) must both agree with the walk
    assert input_size_bytes(spark, str(p)) == walk
    assert input_size_bytes(spark, "file://" + str(p)) == walk
    # missing path -> 0, never raises (callers floor at source splits)
    assert input_size_bytes(spark, str(p / "nope")) == 0


def test_gateway_token_stable_and_alias_proof(spark):
    from crux_spark import _jvmcache
    from crux_spark._jvmcache import gateway_token

    t1 = gateway_token()
    t2 = gateway_token()
    assert t1 == t2  # stable while the gateway lives -> caches hit

    # simulate an id()-reusing gateway swap: point the weakref at a
    # DIFFERENT object and confirm the token bumps even though the
    # id of the real gateway never changed
    class _Fake:
        pass

    fake = _Fake()
    import weakref

    old_ref, old_tok = _jvmcache._GW_REF, _jvmcache._GW_TOKEN
    try:
        _jvmcache._GW_REF = weakref.ref(fake)
        t3 = gateway_token()
        assert t3 > t2
        assert gateway_token() == t3
    finally:
        _jvmcache._GW_REF, _jvmcache._GW_TOKEN = old_ref, old_tok


def test_txstore_constructor_seeds_tx_id_lazily(spark):
    from crux_spark.bitemporal.store import TxStore

    base = TxStore(spark)
    base.submit_tx([("put", {"id": "e1", "v": 1}), ("put", {"id": "e2", "v": 2})])
    base.submit_tx([("put", {"id": "e1", "v": 3})])
    base.commit()
    versions = base.versions
    max_tx = versions.agg(F.max("tx_from")).first()[0]
    assert max_tx >= 2

    # hand the versions frame WHOLESALE to the public constructor
    st = TxStore(spark, versions=versions)
    assert not st._tx_seeded  # no aggregate ran at construction
    tx_id = st.submit_tx([("put", {"id": "e3", "v": 9})])
    # the new tx id must be strictly past every existing tx_from
    assert tx_id > max_tx
    st.commit()
    n = st.versions.where(F.col("tx_from") == tx_id).count()
    assert n >= 1
    # and the lazy seed ran (seeded flag set, counter past the max)
    assert st._tx_seeded
    assert st._tx_id >= tx_id


def test_txlog_listener_state_survives_log_pruning(spark, tmp_path):
    """r15 advice (re-readability): listener state chains lazy
    localCheckpoints, so TxLogStream must pin each micro-batch to
    executor blocks BEFORE dispatch — deleting the tx-log files after
    the stream drains must not break a later index read. (On this Spark
    build DSv1 file-source batches arrive as LogicalRDD and happen to
    survive pruning even unpinned; the pin is what the CONTRACT
    guarantees — it also covers non-refetchable sources like Kafka —
    and this test pins the contract's observable outcome.)"""
    import datetime as dt
    import shutil

    from crux_spark.functions.text_search import IncrementalTextIndex
    from crux_spark.streaming.ingest import TxLogStream, write_tx_log

    log_dir = str(tmp_path / "txlog")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2023, 2, 1)
    write_tx_log(
        spark,
        log_dir,
        [
            (1, [("put", {"id": "d1", "text": "merge the sorted runs"}, t0)]),
            (2, [("put", {"id": "d2", "text": "sorted maps microbench"}, t0)]),
        ],
    )
    # large cadence -> every per-batch merge stays LAZY
    idx = IncrementalTextIndex(spark, checkpoint_every=1000)
    stream = TxLogStream(spark, log_dir)
    stream.listen(idx.listener)
    stream.start(ckpt).awaitTermination(120)
    # prune the source log entirely, then force the deferred state
    shutil.rmtree(log_dir)
    rows = idx.postings.collect()  # must not touch the pruned files
    assert {r.eid for r in rows} == {"d1", "d2"}
    assert idx.last_tx_id == 2


def test_av_text_index_size_aware_persist(spark, tmp_path):
    """The A/V postings stay lazy for every source (no size-gated
    persist), and file-backed and local sources give identical search
    results."""
    from crux_spark.functions.text_search import build_av_text_index, search_av

    local = spark.createDataFrame(
        [("a", "merge the sorted runs"), ("b", "sorted maps microbench")],
        "id string, body string",
    )
    pq = str(tmp_path / "docs_pq")
    local.write.parquet(pq)
    df = spark.read.parquet(pq)  # real size stats from the files

    p1, d1, n1 = build_av_text_index(df, "id", "body")
    p2, d2, n2 = build_av_text_index(local, "id", "body")
    assert p1.storageLevel.useMemory is False
    assert p2.storageLevel.useMemory is False
    r1 = sorted(map(tuple, search_av(p1, d1, n1, "sorted").collect()))
    r2 = sorted(map(tuple, search_av(p2, d2, n2, "sorted").collect()))
    assert r1 == r2 and r1


def test_ngram_jaccard_window_dfreq_matches_brute_force(spark):
    """r16: document frequency via count() OVER (PARTITION BY h) — the
    pairs (incl. exact jaccard values) must still match a brute-force
    all-pairs python computation on a corpus with hot AND rare shared
    shingles (the prefix filter must stay exact under the window-count
    global order)."""
    from itertools import combinations

    from crux_spark.operators import dedup

    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy cat today",
        3: "the quick brown fox leaps over the lazy dog today",
        4: "pack my box with five dozen liquor jugs now ok",
        5: "pack my box with five dozen liquor jugs now ok",
        6: "completely unrelated text goes right here alone forever",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    def sh(t, n=3):
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)} or {t}

    expect = {}
    for a, b in combinations(sorted(texts), 2):
        sa, sb = sh(texts[a]), sh(texts[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.4:
            expect[(a, b)] = round(j, 6)

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.4).collect()
    }
    assert got == expect


def test_bulk_ingest_empty_store_probe_skip_routing(spark):
    """r16: bulk_ingest into a provably-empty store skips the
    existing-eid join. (a) ordered ops take the closed form and match a
    per-op submit_tx store row-for-row; (b) an out-of-order valid_from
    stream must still be detected (bad > 0 with the join-less probe)
    and fall back to the splice cogroup, again matching submit_tx."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crux_spark.bitemporal.store import TxStore

    def ops_df(pairs):
        # (eid, vf_us) put rows, doc {"v": vf}
        return spark.createDataFrame(
            [(e, v, {"v": v}) for e, v in pairs],
            "eid string, vf long, doc struct<v:long>",
        ).select(
            "eid",
            F.col("doc.v").alias("v"),
            F.timestamp_micros(F.col("vf")).alias("vf_ts"),
        )

    def reference(pairs):
        # bulk tx ids are the vf micros, so the per-op reference must
        # commit in vf order for the tx-rank structure to line up
        ref = TxStore(spark)
        for e, v in sorted(pairs, key=lambda p: p[1]):
            ref.submit_tx(
                [("put", {"id": e, "v": v},
                  dt.datetime.fromtimestamp(v / 1e6, dt.timezone.utc))],
                tx_time=dt.datetime.fromtimestamp(v / 1e6, dt.timezone.utc),
            )
            ref.commit()
        return ref

    def versions_key(store):
        # interval structure only: submit_tx docs carry "id" inside
        # doc_json (the put contract) while bulk doc_cols don't (hash
        # differs), and bulk tx ids are the vf micros while submit_tx
        # assigns sequential ids - compare tx values by RANK
        cols = ["eid", "valid_from", "valid_to", "tx_from", "tx_to",
                "deleted"]
        rows = [tuple(r) for r in store.versions.select(*cols).collect()]
        txs = {v: i for i, v in enumerate(
            sorted({r[3] for r in rows} | {r[4] for r in rows}))}
        return sorted(
            (r[0], r[1], r[2], txs[r[3]], txs[r[4]], r[5]) for r in rows
        )

    ordered = [("a", 1_000_000), ("a", 2_000_000), ("b", 1_500_000)]
    st = TxStore(spark)
    assert st._versions_empty
    st.bulk_ingest(ops_df(ordered), id_expr="eid", doc_cols=["v"],
                   valid_from_col="vf_ts")
    assert not st._versions_empty
    assert versions_key(st) == versions_key(reference(ordered))
    assert st._tx_id == 2_000_000

    # out-of-order per entity: valid_from decreases at equal-increasing
    # tx would be fine, but here tx_id defaults to vf micros, so a
    # DUPLICATE vf per entity violates strict ordering -> cogroup
    # strict-ordering violation (duplicate (tx, vf) per entity): the
    # join-less probe must still count it bad and route through the
    # splice cogroup (fresh=None), producing a consistent store
    disordered = [("c", 3_000_000), ("c", 3_000_000), ("d", 1_000_000)]
    st2 = TxStore(spark)
    st2.bulk_ingest(ops_df(disordered), id_expr="eid", doc_cols=["v"],
                    valid_from_col="vf_ts")
    assert st2.db().count() == 2  # one current belief per entity
    assert not st2._versions_empty


def test_ngram_pairgen_size_aware_pin(spark, tmp_path):
    """ngram_jaccard_pairs pins its per-doc base with a lazy
    localCheckpoint for every input, with or without a size estimate,
    and the pairs equal the brute-force all-pairs result for both
    file-backed and local (unknown-size) sources."""
    from crux_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (i, f"the quick brown fox jumps over dog {i % 7} again and again")
        for i in range(60)
    ]
    local = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "docs_pq")
    local.write.parquet(pq)
    df = spark.read.parquet(pq)  # real size stats from the files

    def grams(text):
        toks = text.split()
        return {tuple(toks[k:k + 3]) for k in range(len(toks) - 2)}

    want = []
    for i, ti in rows:
        for j, tj in rows:
            if i < j:
                a, b = grams(ti), grams(tj)
                jac = round(len(a & b) / len(a | b), 6)
                if jac >= 0.4:
                    want.append((i, j, jac))
    want.sort()

    def pinned(pairs):
        # the base (window + collect_list lineage) is replaced by a
        # checkpoint scan, so collect_list leaves the pair plan
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        return "collect_list" not in plan

    for src in (df, local):
        pairs = ngram_jaccard_pairs(src, threshold=0.4)
        assert pinned(pairs)
        assert sorted(map(tuple, pairs.collect())) == want and want
