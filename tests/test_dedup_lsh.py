"""MinHash shingle hashing, the LSH first-band rule and Arrow-backed
local frames (operators/dedup.py, operators/graph.py, _localframe.py).

- shingle hashes and signatures equal a pure-Python reference;
- every LSH pair is emitted once, and the output equals the formulation
  that deduplicates the band-join rows with a shuffle (MinHash) or a
  pure-Python band collision (SimHash);
- the pair finders run no more Spark jobs per call than they did before
  they shared one band join;
- driver-built frames collect without a Spark job.
"""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from crux_spark._localframe import local_frame
from crux_spark.operators import dedup, graph

P = (1 << 31) - 1

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the  QUICK brown\tfox jumps over the lazy dog"),  # variant of 1
    (3, "  leading and trailing spaces  "),
    (4, "\tTabbed start and end\t"),  # trim keeps tabs: empty edge tokens
    (5, "two words"),  # fewer tokens than n
    (6, "one"),
    (7, ""),
    (8, "a b a b a b a b a b"),  # repeated shingles
    (9, "x y z x y z x y z"),
]


def _py_shingles(text, n=3):
    """dedup._norm_text + split + window, in Python: Spark's trim strips
    spaces only, and Java's \\s is [ \\t\\n\\x0b\\f\\r]."""
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    toks = norm.split(" ")
    k = len(toks) - (n - 1)
    if k <= 0:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(k)}


def _md5_prefix(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_sig(hs, num_hashes=32):
    return [
        min(((abs(h) % P) * (2 * i + 1) + 7 * i + 3) % P for h in hs)
        for i in range(num_hashes)
    ]


def _jobs(spark):
    """Spark jobs launched since the call, by the nextJobId() delta."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(sched.nextJobId())
    return lambda: int(sched.nextJobId()) - j0


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_shingle_hashes_and_signatures_match_md5_reference(docs):
    ex = dedup.shingle_hashes(docs, hash_fn=dedup.md5_prefix_hash)
    rows = [(r.id, r.h) for r in ex.collect()]
    assert len(rows) == len(set(rows))  # one row per distinct shingle
    want = {(i, _md5_prefix(s)) for i, t in DOCS for s in _py_shingles(t)}
    assert set(rows) == want
    assert len([r for r in rows if r[0] == 8]) == 2  # "a b a", "b a b"

    sigs = {
        r.id: list(r.sig)
        for r in dedup.minhash_signatures(docs, exploded=ex).collect()
    }
    assert sigs == {
        i: _py_sig([_md5_prefix(s) for s in _py_shingles(t)]) for i, t in DOCS
    }
    assert sigs[1] == sigs[2]  # case and whitespace normalize away


def test_default_shingle_hash_is_xxhash64_of_the_shingle_string(spark, docs):
    strings = spark.createDataFrame(
        [(i, s) for i, t in DOCS for s in _py_shingles(t)], "id long, s string"
    )
    want = {
        (r.id, r.h)
        for r in strings.select("id", F.xxhash64("s").alias("h")).collect()
    }
    rows = [(r.id, r.h) for r in dedup.shingle_hashes(docs).collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == want


def _near_dup_corpus(spark, n=120):
    """Every doc_id % 10 == 0 has a copy at id + 1000 with one extra
    word: the pair shares almost every shingle, so it collides in most
    LSH bands."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta iota "),
            F.lit("kappa word"),
            (F.col("id") % 37).cast("string"),
            F.lit(" lambda mu nu xi omicron pi rho sigma tau"),
        ).alias("text"),
    )
    dups = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" upsilon")).alias("text"),
    )
    return base.unionByName(dups)


def _dedup_shuffle_pairs(docs, verify, num_hashes, bands, threshold):
    """The band join with its pairs deduplicated by a shuffle on
    (id_a, id_b), the formulation the first-band rule replaces."""
    ex = dedup.shingle_hashes(docs)
    sigs = dedup.minhash_signatures(docs, exploded=ex)
    banded = dedup.banded_signatures(sigs, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    )
    if verify == "exact":
        cand = joined.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        ).dropDuplicates(["id_a", "id_b"])
        sets = ex.groupBy("id").agg(F.collect_set("h").alias("sh"))
        sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
        return (
            cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.round(n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        ), joined
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
    ))
    return (
        joined.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
        )
        .withColumn("est_jaccard", F.round(agree / F.lit(num_hashes), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "est_jaccard")
    ), joined


@pytest.mark.parametrize("verify", ["est", "exact"])
def test_lsh_pairs_emit_each_pair_once_from_its_first_band(spark, verify):
    docs = _near_dup_corpus(spark)
    kw = dict(num_hashes=32, bands=16, threshold=0.5)
    want, joined = _dedup_shuffle_pairs(docs, verify, **kw)
    # the corpus exercises the rule: pairs collide in several bands
    n_rows = joined.count()
    n_pairs = joined.select("a.id", "b.id").distinct().count()
    assert n_rows >= 2 * n_pairs > 0, (n_rows, n_pairs)

    got = [tuple(r) for r in dedup.minhash_lsh_pairs(
        docs, verify=verify, **kw
    ).collect()]
    assert len(got) == len({(a, b) for a, b, _ in got})
    assert sorted(got) == sorted(tuple(r) for r in want.collect())
    assert {(a, a + 1000) for a in range(0, 120, 10)} <= {
        (a, b) for a, b, _ in got
    }


@pytest.mark.parametrize("verify", ["est", "exact"])
def test_incremental_batches_emit_each_pair_once(spark, verify):
    """Planted pairs span batches (cross side) and share a batch
    (in-batch side); no add_batch output repeats a pair."""
    docs = _near_dup_corpus(spark)
    idx = dedup.IncrementalMinHashIndex(
        spark, num_hashes=32, bands=16, threshold=0.5, verify=verify
    )
    got = []
    for part in (
        docs.filter(F.col("doc_id") < 60),
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 1030)),
        docs.filter(F.col("doc_id") >= 1030),
    ):
        out = [(r.id_a, r.id_b) for r in idx.add_batch(part).collect()]
        assert len(out) == len(set(out)), verify
        got += out
    assert len(got) == len(set(got))
    assert {(a, a + 1000) for a in range(0, 120, 10)} <= set(got)


def test_simhash_pairs_emit_each_pair_once_from_its_first_band(spark):
    """SimHash pairs equal a pure-Python band collision over the
    signatures, one row per pair, though most pairs share several of
    the four 16-bit bands."""
    docs = _near_dup_corpus(spark)
    sh = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    ids = sorted(sh)

    def bands(h):
        return [(h >> (16 * j)) & 0xFFFF for j in range(4)]

    want, multi = set(), 0
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = sum(x == y for x, y in zip(bands(sh[a]), bands(sh[b])))
            ham = bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")
            if shared and ham <= 8:
                want.add((a, b, ham))
                multi += shared > 1
    assert multi > 0  # the fixture exercises the rule
    got = [tuple(r) for r in dedup.simhash_near_pairs(docs).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_pair_finders_job_counts(spark):
    """Spark jobs per call plus collect, on the near-dup fixture. Before
    the finders shared one band join, the counts were: est 4, exact 5,
    SimHash 5 (its pairs deduplicated by a shuffle), and 5 for an empty
    index at its own defaults (exact, 16 bands)."""
    docs = _near_dup_corpus(spark)
    calls = {
        "est": (4, lambda: dedup.minhash_lsh_pairs(docs)),
        "exact": (5, lambda: dedup.minhash_lsh_pairs(docs, verify="exact")),
        "simhash": (4, lambda: dedup.simhash_near_pairs(docs)),
        "index": (5, lambda: dedup.IncrementalMinHashIndex(spark).add_batch(docs)),
    }
    for name, (most, call) in calls.items():
        jobs = _jobs(spark)
        assert call().collect(), name
        assert jobs() <= most, (name, jobs())


def test_connected_components_driver_path_runs_no_job(spark):
    pairs = local_frame(
        spark, {"id_a": [3, 1, 10, 2], "id_b": [2, 2, 11, 4]},
        "id_a long, id_b long",
    )
    jobs = _jobs(spark)
    got = [(r.id, r.component) for r in graph.connected_components(pairs).collect()]
    assert jobs() == 0
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]

    empty = local_frame(spark, {"id_a": [], "id_b": []}, "id_a long, id_b long")
    jobs = _jobs(spark)
    out = graph.connected_components(empty)
    assert out.collect() == [] and jobs() == 0
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"


def test_local_frame_collects_without_a_job(spark):
    jobs = _jobs(spark)
    df = local_frame(spark, {"k": ["a", "b"], "v": [1, None]}, "k string, v int")
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]
    assert jobs() == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert local_frame(spark, {"k": []}, "k string").collect() == []


def test_text_search_query_terms_are_a_local_frame(spark):
    from crux_spark.functions.text_search import build_text_index, text_search

    docs = local_frame(
        spark, {"eid": ["a", "b"], "text": ["red fox", "blue fox"]},
        "eid string, text string",
    )
    post, dfreq, n = build_text_index(docs, "eid", "text")
    out = text_search(post, dfreq, n, "fox red")
    assert "ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()
    assert [r.eid for r in out.collect()] == ["a", "b"]
    # no terms: an empty term frame, so an empty result rather than a
    # schema-inference error
    assert text_search(post, dfreq, n, " , ").collect() == []
