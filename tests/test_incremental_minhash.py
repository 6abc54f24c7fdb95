"""IncrementalMinHashIndex — streaming near-dup dedup. The invariant:
the union of add_batch outputs over ANY partition of a corpus equals the
batch minhash_lsh_pairs output on the whole corpus (each qualifying pair
emitted exactly once, in the batch where its later member arrived)."""

import pytest
from pyspark.sql import functions as F

from crux_spark.operators.dedup import (
    IncrementalMinHashIndex,
    minhash_lsh_pairs,
)


def _corpus(spark, n=120):
    """Synthetic docs with planted near-dups: every doc_id % 10 == 0 has
    a shifted copy at id+1000 sharing most of its text."""
    base = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta "),
            F.lit("eta theta iota kappa word"),
            (F.col("id") % 37).cast("string"),
            F.lit(" lambda mu nu xi omicron pi rho sigma tau"),
        ).alias("text"),
    )
    dups = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" upsilon")).alias("text"),
    )
    return base.unionByName(dups)


def _pairs(df):
    return {(r.id_a, r.id_b, r[2]) for r in df.collect()}


@pytest.mark.parametrize("verify", ["exact", "est"])
@pytest.mark.parametrize(
    "n_batches",
    [2, pytest.param(4, marks=pytest.mark.full)],
)
def test_incremental_equals_batch(spark, verify, n_batches):
    docs = _corpus(spark)
    batch_out = _pairs(minhash_lsh_pairs(
        docs, threshold=0.5, num_hashes=32, bands=16, verify=verify,
    ))
    assert batch_out  # planted dups must actually qualify

    idx = IncrementalMinHashIndex(
        spark, num_hashes=32, bands=16, threshold=0.5, verify=verify
    )
    got = set()
    for b in range(n_batches):
        part = docs.filter(F.col("doc_id") % n_batches == b)
        out = _pairs(idx.add_batch(part))
        assert not (got & out), "a pair was emitted twice"
        got |= out
    assert got == batch_out


def test_reput_replaces_postings(spark):
    """Re-adding an id with new text replaces its postings: pairs
    re-evaluate against the NEW text only."""
    idx = IncrementalMinHashIndex(spark, num_hashes=32, bands=16,
                                  threshold=0.5)
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    t = ("the quick brown fox jumps over the lazy dog and then "
         "runs far away into the deep dark forest tonight")
    out1 = idx.add_batch(mk([(1, t), (2, t + " again")]))
    assert {(r.id_a, r.id_b) for r in out1.collect()} == {(1, 2)}
    # re-put doc 2 with unrelated text: no pair against doc 1 anymore
    out2 = idx.add_batch(mk([
        (2, "completely different words entirely unrelated content "
            "nothing shared with any earlier document at all here")]))
    assert out2.count() == 0
    # a third doc similar to the NEW doc 2 pairs with it, not with 1
    out3 = idx.add_batch(mk([
        (3, "completely different words entirely unrelated content "
            "nothing shared with any earlier document at all there")]))
    assert {(r.id_a, r.id_b) for r in out3.collect()} == {(2, 3)}


def test_listener_tx_form_and_delete(spark):
    """The tx-log listener form: puts index doc text, deletes drop the
    entity's postings so later docs stop pairing against it."""
    import json

    idx = IncrementalMinHashIndex(spark, num_hashes=32, bands=16,
                                  threshold=0.5)
    t = ("shared sentence of many tokens that makes these documents "
         "near duplicates for the minhash index to catch easily")

    def ops(rows):
        return spark.createDataFrame(
            rows, ["eid", "tx_id", "seq", "op", "doc_json"]
        )

    out1 = idx.listener(0, ops([
        ("a", 1, 0, "put", json.dumps({"id": "a", "text": t})),
        ("b", 1, 1, "put", json.dumps({"id": "b", "text": t + " x"})),
    ]))
    assert {(r.id_a, r.id_b) for r in out1.collect()} == {("a", "b")}
    assert idx.last_tx_id == 1
    # delete b, then add c ~ t: pairs only against a
    out2 = idx.listener(1, ops([
        ("b", 2, 0, "delete", None),
        ("c", 2, 1, "put", json.dumps({"id": "c", "text": t + " y"})),
    ]))
    assert {(r.id_a, r.id_b) for r in out2.collect()} == {("a", "c")}


@pytest.mark.parametrize("kind", ["minhash", "text", "vector"])
def test_listener_reput_without_field_drops_entity(spark, kind):
    """Every entity a batch touches loses its old index state: after
    `a` is re-put without the indexed field, a later `b` carrying `a`'s
    old text or vector finds nothing under `a`."""
    import json

    import numpy as np

    from crux_spark.functions.text_search import IncrementalTextIndex
    from crux_spark.operators.similarity import IncrementalVectorIndex

    t = ("shared sentence of many tokens that makes these documents "
         "near duplicates for the minhash index to catch easily")
    field, value, idx = {
        "minhash": ("text", t, IncrementalMinHashIndex(
            spark, num_hashes=32, bands=16, threshold=0.5)),
        "text": ("text", t, IncrementalTextIndex(spark)),
        "vector": ("embedding", [1.0, 0.0], IncrementalVectorIndex(
            spark, np.asarray([[1.0, 0.0], [0.0, 1.0]]))),
    }[kind]

    def put(eid, tx, doc):
        return spark.createDataFrame(
            [(eid, tx, 0, "put", json.dumps({"id": eid, **doc}))],
            "eid string, tx_id long, seq long, op string, doc_json string",
        )

    idx.listener(0, put("a", 1, {field: value}))
    idx.listener(1, put("a", 2, {"title": "no indexed field"}))
    out = idx.listener(2, put("b", 3, {field: value}))
    assert idx.last_tx_id == 3
    if kind == "minhash":
        assert [tuple(r) for r in out.collect()] == []
        return
    hits = (idx.search(t) if kind == "text"
            else idx.search(value, k=5, nprobe=2))
    assert [r.eid for r in hits.collect()] == ["b"]


def test_checkpoint_roundtrip_survives_dir_deletion(spark, tmp_path):
    import shutil

    docs = _corpus(spark, 60)
    idx = IncrementalMinHashIndex(spark, num_hashes=32, bands=16,
                                  threshold=0.5)
    first = docs.filter(F.col("doc_id") < 1000)
    idx.add_batch(first)
    cp = str(tmp_path / "mh_idx")
    idx.save(cp)

    idx2 = IncrementalMinHashIndex.load(spark, cp)
    assert idx2.bands == 16 and idx2.threshold == 0.5
    shutil.rmtree(cp)  # restore must not lazily depend on the dir
    rest = docs.filter(F.col("doc_id") >= 1000)
    out = idx2.add_batch(rest)
    batch_out = minhash_lsh_pairs(
        docs, threshold=0.5, num_hashes=32, bands=16, verify="exact"
    )
    cross = {(r.id_a, r.id_b) for r in batch_out.collect()
             if r.id_b >= 1000}
    assert {(r.id_a, r.id_b) for r in out.collect()} == cross


def test_listener_pure_delete_batch(spark):
    """A tx batch containing ONLY deletes: postings drop, no pairs
    emitted, the watermark still advances, and later docs no longer
    pair against the deleted entity."""
    import json

    idx = IncrementalMinHashIndex(spark, num_hashes=32, bands=16,
                                  threshold=0.5)
    t = ("shared sentence of many tokens that makes these documents "
         "near duplicates for the minhash index to catch easily")
    SCHEMA = "eid string, tx_id long, seq long, op string, doc_json string"
    ops = lambda rows: spark.createDataFrame(rows, SCHEMA)
    idx.listener(0, ops([
        ("a", 1, 0, "put", json.dumps({"id": "a", "text": t})),
        ("b", 1, 1, "put", json.dumps({"id": "b", "text": t + " x"})),
    ]))
    out = idx.listener(1, ops([("b", 2, 0, "delete", None)]))
    assert out.count() == 0
    assert idx.last_tx_id == 2
    out2 = idx.listener(2, ops([
        ("c", 3, 0, "put", json.dumps({"id": "c", "text": t + " y"}))]))
    assert {(r.id_a, r.id_b) for r in out2.collect()} == {("a", "c")}


def test_est_mode_md5_hash_fn_matches_xxhash_relation_shape(spark):
    """hash_fn=md5_prefix_hash (the oracle-portable shingle hash): the
    est-mode relation it produces must keep the invariant vs a batch run
    with the same hash, and planted near-dups must still qualify —
    pins that signatures are a pure function of the hash_fn seam and
    that the estimator arithmetic is hash-agnostic."""
    from crux_spark.operators.dedup import md5_prefix_hash, shingle_hashes

    docs = _corpus(spark)
    idx = IncrementalMinHashIndex(
        spark, num_hashes=32, bands=16, threshold=0.5, verify="est",
        hash_fn=md5_prefix_hash,
    )
    got = set()
    for b in range(3):
        got |= _pairs(idx.add_batch(docs.filter(F.col("doc_id") % 3 == b)))
    # planted near-dups (id, id+1000) share ~95% of shingles
    planted = {(a, b) for a, b, _ in got if b == a + 1000}
    assert len(planted) >= 10
    # signatures are reproducible from the hash values alone: recompute
    # one doc's md5-prefix hashes and assert the min over permutation 0
    # equals sig[0] of the postings state
    one = docs.filter(F.col("doc_id") == 0)
    hs = [r.h for r in shingle_hashes(one, hash_fn=md5_prefix_hash).collect()]
    P = (1 << 31) - 1
    expect_m0 = min((abs(h) % P) * 1 + 3 for h in hs) % P
    sig0 = (idx.postings.filter(F.col("id") == 0)
            .select("sig").first()["sig"][0])
    assert sig0 == expect_m0


@pytest.mark.full
def test_long_stream_lineage_stays_bounded(spark, monkeypatch):
    """50-batch listener-length stream (r13 verdict item 5): with the
    replay.CHECKPOINT_EVERY cadence (8), the state's unmaterialized
    lineage resets at every eager point, so the analyzed-plan size at
    batch 50 is the size of a ~cadence-deep chain, NOT a 50-deep one —
    and the union-of-outputs == batch-operator invariant still holds."""
    from crux_spark.bitemporal import replay

    docs = _corpus(spark, n=100)
    monkeypatch.setattr(replay, "CHECKPOINT_EVERY", 8)
    idx = IncrementalMinHashIndex(
        spark, num_hashes=32, bands=16, threshold=0.5, verify="exact",
    )
    got = set()
    plan_lens = []
    for b in range(50):
        got |= _pairs(idx.add_batch(docs.filter(F.col("doc_id") % 50 == b)))
        plan_lens.append(
            len(idx.postings._jdf.queryExecution().analyzed().toString())
        )
    # lineage bound: the deepest plan anywhere in the stream is at most
    # one cadence window deep — it must not scale with stream length
    # (without the cadence the batch-50 plan is ~6x the batch-8 one)
    assert max(plan_lens) <= max(plan_lens[:8]) * 2, plan_lens
    batch_out = _pairs(minhash_lsh_pairs(
        docs, threshold=0.5, num_hashes=32, bands=16, verify="exact",
    ))
    assert got == batch_out
