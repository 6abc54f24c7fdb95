"""Deterministic sampling / decontamination operators
(crux_spark/operators/sampling.py) — training-data pipeline extensions."""

import pytest
from pyspark.sql import functions as F

from crux_spark.operators import sampling as samp


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"word{i} common phrase tail {' '.join(str(j) for j in range(i % 7))}")
         for i in range(1000)],
        "doc_id long, text string",
    )


def test_hash_sample_deterministic_and_rate(docs):
    s1 = samp.hash_sample(docs, 0.25, "doc_id")
    s2 = samp.hash_sample(docs, 0.25, "doc_id")
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert ids1 == sorted(r.doc_id for r in s2.collect())
    assert 150 <= len(ids1) <= 350  # ~250 expected


def test_hash_sample_nests(docs):
    # smaller rate selects a subset of the larger rate's bucket space
    small = {r.doc_id for r in samp.hash_sample(docs, 0.1, "doc_id").collect()}
    big = {r.doc_id for r in samp.hash_sample(docs, 0.4, "doc_id").collect()}
    assert small <= big


def test_hash_split_disjoint_exhaustive(docs):
    train, test = samp.hash_split(docs, 0.2, "doc_id")
    tr = {r.doc_id for r in train.collect()}
    te = {r.doc_id for r in test.collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == 1000


def test_hash_sample_seed_shifts(docs):
    a = {r.doc_id for r in samp.hash_sample(docs, 0.3, "doc_id", seed=1).collect()}
    b = {r.doc_id for r in samp.hash_sample(docs, 0.3, "doc_id", seed=2).collect()}
    assert a != b


def test_hash_sample_md5_rate_edges(docs):
    assert samp.hash_sample(docs, 0.0, "doc_id", method="md5").count() == 0
    assert samp.hash_sample(docs, 1.0, "doc_id", method="md5").count() == 1000
    with pytest.raises(ValueError, match="rate"):
        samp.hash_sample(docs, 1.5, "doc_id")


def test_hash_split_null_keys_land_exactly_once(spark):
    """NULL keys must land in exactly one side of the split for BOTH
    methods — md5(NULL) is NULL and would otherwise silently drop the
    row from train AND test."""
    df = spark.createDataFrame(
        [(i if i % 5 else None, f"t{i}") for i in range(100)],
        "doc_id long, text string",
    )
    for method in ("xxhash64", "md5"):
        kept = samp.hash_sample(df, 0.25, "doc_id", method=method)
        held = samp.hash_sample(
            df, 0.25, "doc_id", method=method, complement=True
        )
        texts_kept = {r.text for r in kept.collect()}
        texts_held = {r.text for r in held.collect()}
        assert texts_kept.isdisjoint(texts_held), method
        assert len(texts_kept) + len(texts_held) == 100, method
        # all null-keyed rows fall in the SAME side (one hash bucket)
        nk = {r.text for r in kept.filter(F.col("doc_id").isNull()).collect()}
        nh = {r.text for r in held.filter(F.col("doc_id").isNull()).collect()}
        assert not nk or not nh, method
        assert len(nk) + len(nh) == 20, method


def test_contamination_scores(spark):
    """Graded overlap: a half-contaminated doc scores 0.5, a clean doc
    0.0, a fully-contaminated doc 1.0; too-short docs emit no row."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),              # fully contained
            (2, "alpha beta gamma zulu xray yankee"),   # partial
            (3, "one two three four five"),             # clean
            (4, "hi"),                                  # too short for 3-grams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in samp.contamination_scores(docs, bench, n=3).collect()}
    assert out[1].contam_frac == 1.0 and out[1].n_shingles == 2
    assert out[3].contam_frac == 0.0 and out[3].n_shared == 0
    assert 0 < out[2].contam_frac < 1
    assert 4 not in out


def test_unigram_nll_scores(spark):
    """Docs of common tokens score lower NLL than rare-token docs; the
    smoothed unigram math matches a hand computation."""
    import math

    from crux_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "common common common"), (2, "common rare")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.unigram_nll_scores(
        docs, vocab_size=10, alpha=0.5
    ).collect()}
    # corpus: common x4, rare x1, total 5; denom = 5 + 0.5*11 = 10.5
    lp_common = math.log(4.5 / 10.5)
    lp_rare = math.log(1.5 / 10.5)
    assert abs(out[1].nll - round(-lp_common, 6)) < 1e-6
    assert abs(out[2].nll - round(-(lp_common + lp_rare) / 2, 6)) < 1e-6
    assert out[1].nll < out[2].nll
    assert out[2].n_tokens == 2
    assert abs(out[1].ppl - round(math.exp(-lp_common), 4)) < 1e-3


def test_stratified_hash_sample(spark):
    """Per-stratum rates apply independently; nests inside the plain
    hash_sample bucket space; absent strata use default_rate."""
    df = spark.createDataFrame(
        [(i, ["en", "zh", "de", "fr"][i % 4]) for i in range(2000)],
        "doc_id long, lang string",
    )
    out = samp.stratified_hash_sample(
        df, {"en": 0.5, "zh": 0.1, "de": 1.0}, "lang", "doc_id",
        default_rate=0.0,
    )
    by = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    assert 175 <= by.get("en", 0) <= 325      # ~250 of 500
    assert 20 <= by.get("zh", 0) <= 90        # ~50 of 500
    assert by.get("de") == 500                # rate 1.0 keeps all
    assert "fr" not in by                     # default 0 drops all
    # nesting: the stratified keep-set for a stratum is a subset of the
    # plain hash_sample at the same rate (same bucket space)
    en_strat = {r.doc_id for r in out.filter("lang='en'").collect()}
    en_plain = {
        r.doc_id
        for r in samp.hash_sample(
            df.filter("lang='en'"), 0.5, "doc_id"
        ).collect()
    }
    assert en_strat == en_plain
    # plan: pure filter, no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="rates"):
        samp.stratified_hash_sample(df, {"en": 1.5}, "lang", "doc_id")


def test_hash_sample_plan_is_narrow(docs):
    # scale property: a pure filter, no shuffle in the plan
    plan = samp.hash_sample(docs, 0.25, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_contaminated_docs(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different words here entirely now"),
         (3, "a quick brown fox jumps over something else")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps high")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_shared for r in
           samp.contaminated_docs(docs, bench, n=4).collect()}
    # doc1 shares "the quick brown fox" and "quick brown fox jumps";
    # doc3 shares "quick brown fox jumps"; doc2 shares nothing
    assert out == {1: 2, 3: 1}


def test_contaminated_docs_short_docs_no_shingles(spark):
    docs = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "too short")], "doc_id long, text string")
    assert samp.contaminated_docs(docs, bench, n=5).count() == 0


def test_dedup_text_chunks(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # chunks (cw=3): "a b c", "d e f"
            (2, "a b c x y z"),       # "a b c" is a dup of doc1's -> dropped
            (3, "x y z"),             # dup of doc2's second chunk -> doc vanishes
            (4, "q r"),               # short doc: one partial chunk, unique
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.clean_text for r in
           samp.dedup_text_chunks(docs, chunk_words=3).collect()}
    assert out == {1: "a b c d e f", 2: "x y z", 4: "q r"}


def test_mix_corpora(docs):
    half = docs.filter("doc_id < 500")
    rest = docs.filter("doc_id >= 500")
    mixed = samp.mix_corpora([(half, 2.5), (rest, 0.3)])
    rows = mixed.groupBy("source", "epoch").count().collect()
    by = {(r.source, r.epoch): r["count"] for r in rows}
    assert by[(0, 0)] == 500 and by[(0, 1)] == 500  # two full epochs
    assert 150 <= by[(0, 2)] <= 350                 # ~50% third epoch
    assert 80 <= by[(1, 0)] <= 220                  # ~30% of the rest
    # deterministic: same member sets on re-run
    again = samp.mix_corpora([(half, 2.5), (rest, 0.3)])
    a = sorted((r.source, r.epoch, r.doc_id) for r in mixed.collect())
    b = sorted((r.source, r.epoch, r.doc_id) for r in again.collect())
    assert a == b


def test_epoch_shard_shuffle_deterministic_and_scale_shape(spark):
    """epoch_shard_shuffle: same (seed, epoch, id) -> same (shard, idx)
    on any partitioning; a new epoch is a different permutation; the
    plan has exactly one shuffle (per-shard window) and no
    single-partition global sort."""
    from crux_spark.operators.sampling import epoch_shard_shuffle

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = epoch_shard_shuffle(df, seed="x", epoch=1).collect()
    b = epoch_shard_shuffle(df.repartition(7), seed="x", epoch=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # partition-proof
    # every shard's idx is a dense 1..n ranking
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.idx)
    for shard, idxs in by_shard.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1)), shard
    assert len(by_shard) == 16
    # a new epoch permutes: same rows, different order
    c = epoch_shard_shuffle(df, seed="x", epoch=2).collect()
    assert sorted(r.doc_id for r in c) == sorted(r.doc_id for r in a)
    assert {(r.doc_id, r.shard, r.idx) for r in c} != {
        (r.doc_id, r.shard, r.idx) for r in a
    }
    # scale shape: one hash-partitioning exchange, keyed by shard (a
    # global row_number would show a SinglePartition exchange)
    out = epoch_shard_shuffle(df, seed="x", epoch=1)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SinglePartition" not in final, final
    assert final.count("Exchange hashpartitioning") == 1, final


def test_select_token_budget_boundary_and_ties(spark):
    """The budget-crossing doc is included; ties order by id; null
    quality is dropped; cum_before matches the serial scan."""
    from crux_spark.operators.sampling import select_token_budget

    rows = [
        (1, 5.0, "a b c d"),        # 4 tokens
        (2, 9.0, "a b c"),          # 3 tokens, best quality
        (3, 5.0, "x y z w v"),      # 5 tokens, ties doc 1 — doc 1 first
        (4, None, "dropped doc"),
        (5, 1.0, "u v"),            # below the cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, q double, text string")
    # order: 2 (3 tok, cum 0), 1 (4 tok, cum 3), 3 (5 tok, cum 7), 5 (cum 12)
    got = {
        r.doc_id: (r.n_tokens, r.cum_before)
        for r in select_token_budget(
            df, budget=8, quality_col="q", n_buckets=4
        ).collect()
    }
    # budget 8: cum_before of doc 3 is 7 < 8 -> included (crosses);
    # doc 5 cum_before 12 -> out; doc 4 null quality -> out
    assert got == {2: (3, 0), 1: (4, 3), 3: (5, 7)}


def test_temperature_mix_rates(spark):
    """Alpha-sampling semantics (Conneau et al. 2020): alpha=1 keeps
    natural proportions (rate 1.0 per source at budget 1.0); alpha=0
    equalizes source draws (small source upsamples, big downsamples);
    output tags sources by sorted dense rank and the member set is
    deterministic."""
    from pyspark.sql import functions as F

    from crux_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, "big" if i < 160 else "small") for i in range(200)],
        "doc_id long, source string",
    )
    # alpha=1: natural sampling -> exactly one epoch of everything
    nat = temperature_mix(df, alpha=1.0, budget_ratio=1.0)
    assert nat.count() == 200
    assert nat.select("epoch").distinct().collect() == [(0,)]

    # alpha=0: uniform over sources -> each source targets budget/2 docs
    # (rate 100/160 for big, 100/40 = 2.5 for small, sixteenth-quantized)
    uni = temperature_mix(df, alpha=0.0, budget_ratio=1.0)
    per_src = {
        r["source"]: r["cnt"]
        for r in uni.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    # source 0 = 'big' (sorted order), source 1 = 'small'
    assert per_src[1] >= 2 * 40  # small source fully replicated 2x+
    assert per_src[0] < 160      # big source downsampled
    # deterministic: same member multiset on re-run
    a = sorted(tuple(r) for r in uni.collect())
    b = sorted(
        tuple(r)
        for r in temperature_mix(df, alpha=0.0, budget_ratio=1.0).collect()
    )
    assert a == b
