"""Pipeline operators: dedup / similarity / text analysis.

Approximate operators (MinHash-LSH, SimHash, IVF) are validated against
their exact counterparts computed on the same data — the same
foreign-oracle strategy the reference uses for query semantics
(SURVEY.md §5).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crux_spark.operators import dedup, similarity, textops
from crux_spark.operators import sampling as samp

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_duplicates_detects_planted(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello world"), (3, "unrelated text")],
        ["doc_id", "text"],
    )
    out = dedup.exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["keep_id"] == 1
    assert out[0]["dup_ids"] == [1, 2]


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        ["doc_id", "text"],
    )
    out = dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out] == [(1, 2, 1.0)]


def test_minhash_lsh_agrees_with_exact_jaccard(docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.35).collect()
    }
    # every strongly-similar exact pair must be recalled by LSH
    missed = [p for p in exact if p not in approx]
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    # estimates should correlate: no estimate may be wildly off
    for p, est in approx.items():
        if p in exact:
            assert abs(est - exact[p]) < 0.35


def test_simhash_deterministic_and_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different words entirely here")],
        ["doc_id", "text"],
    )
    h1 = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    h2 = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert h1 == h2  # deterministic
    assert h1[1] == h1[2]  # identical docs -> identical hash
    pairs = dedup.simhash_near_pairs(df, max_hamming=3).collect()
    assert any(r.id_a == 1 and r.id_b == 2 and r.hamming == 0 for r in pairs)


def test_brute_force_topk_matches_numpy(emb, spark):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.brute_force_topk(emb, queries, k=3).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for qid in range(3):
        qv = vecs[qid]
        sims = {
            vid: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
            for vid, v in vecs.items()
            if vid != qid
        }
        expect = sorted(sims, key=lambda v: (-sims[v], v))[:3]
        got_q = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert got_q == expect


@pytest.mark.parametrize("nblocks", [1, 3, 16, None])
def test_cosine_threshold_pairs_matches_numpy_all_pairs(spark, nblocks):
    """The block-matrix product returns exactly the brute-force pair set
    at any block count: one block (a single diagonal tile), a few, and
    more blocks than some of them have rows, and the default derived
    from the session's parallelism (None). Ten rows repeat another
    row's vector, so sim-1.0 pairs cross blocks; ids are shuffled so
    tiles see both id orders."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8)
    vecs[50:] = vecs[:10] * rng.uniform(0.5, 2.0, size=(10, 1))
    ids = rng.permutation(1000)[:60].tolist()
    threshold = 0.3
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )

    want = {}
    for x in range(60):
        for y in range(x + 1, 60):
            u, v = vecs[x], vecs[y]
            sim = float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))
            assert abs(sim - threshold) > 1e-9  # no pair on the boundary
            if sim >= threshold:
                want[(min(ids[x], ids[y]), max(ids[x], ids[y]))] = sim
    assert 10 <= len(want) < 60 * 59 // 2

    got = similarity.cosine_threshold_pairs(
        corpus, threshold=threshold, nblocks=nblocks
    ).collect()
    assert all(r.id_a < r.id_b for r in got)
    assert len(got) == len({(r.id_a, r.id_b) for r in got})
    assert {(r.id_a, r.id_b) for r in got} == set(want)
    for r in got:
        assert r.sim == round(want[(r.id_a, r.id_b)], 6)


def test_ivf_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_centroids(emb, nlist=4)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, queries, cents, k=5, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_text_analysis_columns(docs):
    out = textops.analyze(docs).select(
        "doc_id", "n_tokens", "stop_ratio", "punct_ratio", "quality", "lang_guess", "fp"
    )
    rows = out.collect()
    assert all(r.n_tokens > 0 for r in rows)
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert all(r.lang_guess in ("en", "zh", "unk") for r in rows)
    # fingerprint is stable across invocations
    fp1 = {r.doc_id: r.fp for r in rows}
    fp2 = {r.doc_id: r.fp for r in out.collect()}
    assert fp1 == fp2


def test_salted_join_matches_plain(spark):
    from crux_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", "cold")[: 1 if i % 10 else 2]],
        ["k", "i"],
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], ["k", "tag"])
    plain = big.join(small, "k").groupBy("tag").count().collect()
    salted = salted_join(big, small, "k").groupBy("tag").count().collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_pq_topk_recall(spark):
    """Product quantization (ADC + exact re-rank) finds the true nearest
    neighbor of perturbed queries and reaches high recall@5 vs brute
    force on clustered synthetic vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from crux_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16))
    vecs = [
        (i, (centers[i % 8] + 0.05 * rng.normal(size=16)).tolist())
        for i in range(400)
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("query_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + 0.001).otherwise(x)
        ).alias("embedding"),
    )
    books = sim.train_pq_codebooks(corpus, m=8, ksub=16)
    got = sim.pq_topk(corpus, queries, books, k=5, shortlist=80)
    exact = sim.brute_force_topk(corpus, queries, k=5)
    g = {(r.query_id, r.vec_id) for r in got.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    recall = len(g & e) / len(e)
    assert recall >= 0.9, recall
    # the perturbed query's true NN (its original) is always found at rank 1
    top1 = {r.query_id: r.vec_id for r in got.filter("rank = 1").collect()}
    assert top1 == {1000 + i: i for i in range(10)}

    # the query side is driver-collected (per-query ADC LUT) — an
    # unbounded caller DataFrame must raise, not silently OOM the driver
    import pytest as _pytest
    big = corpus.select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(ValueError, match="max_queries"):
        sim.pq_topk(corpus, big, books, k=5, max_queries=100)


def test_repetition_metrics(spark):
    """Gopher-style repetition filters on crafted documents with known
    duplicate-line / n-gram structure."""
    docs = spark.createDataFrame(
        [
            # 4 lines, 'spam' twice: 1 repeat of 4 lines; repeated line
            # chars 4 of 16 total line chars (abcd+spam+spam+wxyz)
            (1, "abcd\nspam\nspam\nwxyz"),
            # heavy bigram repetition: 'buy now' x4
            (2, "buy now buy now buy now buy now"),
            # clean text
            (3, "a perfectly normal sentence with no repeats"),
        ],
        "doc_id long, text string",
    )
    m = {r.doc_id: r for r in textops.repetition_metrics(docs).collect()}
    assert m[1].dup_line_frac == 0.25
    assert m[1].dup_line_char_frac == 0.25
    assert m[3].dup_line_frac == 0.0 and m[3].dup_ngram_char_frac == 0.0
    # doc 2: every 'buy now' bigram is identical -> top bigram covers
    # count(4? overlapping grams) * len('buy now')=7 over 31 chars
    assert m[2].top_ngram_char_frac > 0.6
    assert m[2].dup_ngram_char_frac > 0.5  # 5-grams repeat too
    assert m[3].top_ngram_char_frac < 0.5


def test_pii_scrub(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or +1 (555) 123-4567 now"),
            (2, "server at 192.168.0.1 and 10.0.0.255 sent mail to a@b.io"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.pii_scrub(docs).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<EMAIL>" in out[1].text and "<PHONE>" in out[1].text
    assert "example" not in out[1].text and "555" not in out[1].text
    assert out[2].n_ipv4 == 2 and out[2].text.count("<IP>") == 2
    assert out[2].n_email == 1
    assert out[3].text == "no pii here"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (0, 0, 0)


def test_pack_sequences_invariants(spark):
    """Concat-and-split packing: every token lands in exactly one slot,
    interior sequences are exactly full, and the distributed prefix-sum
    (bucketed cumsum + driver offsets) yields a gapless token stream."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(5 + (i * 37) % 90)))
         for i in range(200)],
        "doc_id long, text string",
    )
    L = 64
    out = samp.pack_sequences(docs, seq_len=L).collect()
    # per-doc spans cover exactly n_tokens
    per_doc: dict = {}
    for r in out:
        assert 0 <= r.beg < r.fin <= L
        per_doc.setdefault(r.doc_id, []).append(r)
    n_by_doc = {r.doc_id: r.n_tokens for r in out}
    total = sum(n_by_doc.values())
    for did, rows in per_doc.items():
        assert sum(r.fin - r.beg for r in rows) == n_by_doc[did]
        # a doc's spans occupy CONSECUTIVE sequences
        sids = sorted(r.seq_id for r in rows)
        assert sids == list(range(sids[0], sids[0] + len(sids)))
    # every sequence slot [0, L) is covered exactly once (gapless stream)
    by_seq: dict = {}
    for r in out:
        by_seq.setdefault(r.seq_id, []).append((r.beg, r.fin))
    n_seqs = max(by_seq) + 1
    assert n_seqs == -(-total // L)
    for sid, spans in by_seq.items():
        spans.sort()
        expect_end = L if sid < n_seqs - 1 else (total - 1) % L + 1
        pos = 0
        for b, f in spans:
            assert b == pos
            pos = f
        assert pos == expect_end
    # determinism: same assignment on re-run
    again = samp.pack_sequences(docs, seq_len=L).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_bpe_ish_token_count(spark):
    from pyspark.sql import functions as F

    from crux_spark.operators import textops

    df = spark.createDataFrame(
        [("I don't like 42 apples!!",), ("hello world",), ("",)],
        "text string",
    )
    out = df.select(
        textops.bpe_ish_token_count(F.col("text")).alias("n"),
        textops.bpe_ish_tokens(F.col("text")).alias("toks"),
    ).collect()
    # I | _don | 't | _like | _42 | _apples | !!
    assert out[0].n == 7
    assert out[0].toks == ["I", " don", "'t", " like", " 42", " apples", "!!"]
    assert out[1].n == 2
    assert out[2].n == 0


def test_sketch_aggregates_through_datalog(spark):
    """Approximate (sketch) aggregates in :find — HLL count-distinct is
    built in; percentile sketches register through the open aggregate
    registry and stay JVM-side (partial agg + codegen)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crux_spark import Catalog
    from crux_spark.datalog import q
    from crux_spark.datalog.aggregates import register_aggregate

    register_aggregate("p95", lambda c: F.percentile_approx(c, 0.95))

    cat = Catalog(spark)
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("grp", T.StringType()),
         T.StructField("v", T.LongType())]
    )
    rows = [(f"e{i}", "a" if i % 2 else "b", i % 97) for i in range(2000)]
    cat.add_documents("nums", spark.createDataFrame(rows, schema), id_col="id")

    res = q(cat, {
        "find": ["?g", ["count-distinct-approx", "?v", "n_approx"],
                 ["count-distinct", "?v", "n_exact"],
                 ["p95", "?v", "p95"]],
        "where": [["?e", ":grp", "?g"], ["?e", ":v", "?v"]],
    }).collect()
    by = {r.g: r for r in res}
    for g in ("a", "b"):
        # HLL default relative error ~2.3%
        assert abs(by[g].n_approx - by[g].n_exact) <= max(3, 0.05 * by[g].n_exact)
        assert 85 <= by[g].p95 <= 96


def test_gopher_quality_flags(spark):
    docs = spark.createDataFrame(
        [
            # natural prose: passes everything
            (1, ("the cat and the dog have been to the house of friends "
                 "and that was good to see with many fine words indeed " * 3)),
            # too short
            (2, "tiny doc"),
            # symbol soup: '#' density over threshold
            (3, ("# " * 60) + "the be to of and words here"),
            # bullets everywhere
            (4, "\n".join("- item %d the be to of" % i for i in range(20))),
            # no stopwords
            (5, "lorem ipsum dolor sit amet " * 20),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textops.gopher_quality_flags(docs).collect()}
    assert got[1].gopher_keep is True
    assert got[2].gopher_keep is False and got[2].n_words < 50
    assert got[3].gopher_keep is False and got[3].symbol_word_ratio > 0.1
    assert got[4].gopher_keep is False and got[4].bullet_line_frac > 0.9
    assert got[5].gopher_keep is False and got[5].stop_hits < 2


def test_canonical_by_quality_tie_break(spark):
    from crux_spark.operators import graph

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (4, 5.0), (9, 1.0)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 1)], "id_a long, id_b long"
    )  # one cluster {1,2,3,4}; doc 9 unpaired
    got = {
        r.doc_id: (r.canonical_id, r.is_canonical)
        for r in graph.canonical_by_quality(docs, pairs).collect()
    }
    # highest quality wins; tie (2 vs 3, both 30.0) -> LOWEST id
    assert got == {
        1: (2, False),
        2: (2, True),
        3: (2, False),
        4: (2, False),
    }  # unpaired doc 9 not returned (its own canonical)


def test_duplicate_spans_handcrafted(spark):
    """Span semantics pinned on a corpus built to exercise each rule:
    cross-doc requirement, maximality (overlapping windows merge),
    island split on a genuine gap, sub-n shared runs excluded."""
    shared = " ".join(f"s{i}" for i in range(12))          # 12 shared tokens
    shared2 = " ".join(f"z{i}" for i in range(10))         # exactly n
    short = " ".join(f"q{i}" for i in range(9))            # n-1: below window
    df = spark.createDataFrame(
        [
            # doc 1: shared at tokens 3..14, gap, shared2 at 20..29
            (1, "a b " + shared + " x y w v u " + shared2),
            (2, "c " + shared + " d"),
            (3, shared2),
            # docs 4/5 share only a 9-token run — no window fits
            (4, short + " k1"),
            (5, short + " k2"),
            # doc 6 repeats shared WITHIN itself only — not cross-doc for z
            (6, "m " + shared2.replace("z", "self") + " m "
                + shared2.replace("z", "self")),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, n=10).collect()
    }
    assert spans == {
        (1, 3, 14),    # maximal: all 3 windows over the 12 tokens merge
        (1, 20, 29),   # separate island after the 5-token gap
        (2, 2, 13),
        (3, 1, 10),    # exactly-n span
    }
    stats = {
        r.doc_id: (r.n_spans, r.dup_tokens, r.dup_frac)
        for r in dedup.duplicate_span_stats(df, n=10).collect()
    }
    assert stats[1] == (2, 22, round(22 / 29, 6))
    assert stats[3] == (1, 10, 1.0)
    assert 4 not in stats and 5 not in stats and 6 not in stats


def test_trim_duplicate_spans_winner_semantics(spark):
    """First-occurrence-wins: the lexicographically smallest (doc, pos)
    occurrence of a duplicated window keeps its text; every other
    occurrence — including extra occurrences inside the winner doc —
    is cut; non-duplicated docs pass through verbatim."""
    shared = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, "a b " + shared + " tail1"),
            (2, shared + " tail2"),
            # doc 3 contains the span TWICE: both occurrences lose to doc 1
            (3, shared + " mid " + shared),
            (4, "totally unrelated text with enough tokens here ok"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.trim_duplicate_spans(df, n=10).collect()}
    assert out[1].clean_text == "a b " + shared + " tail1"  # winner intact
    assert out[2].clean_text == "tail2"
    assert out[3].clean_text == "mid"
    assert out[4].clean_text == out[4].clean_text == (
        "totally unrelated text with enough tokens here ok"
    )
    assert out[2].n_tokens == 11 and out[2].kept_tokens == 1
    assert out[3].n_tokens == 21 and out[3].kept_tokens == 1


def test_duplicate_lines_cross_doc_only(spark):
    """Only lines repeated across >= min_docs DISTINCT docs count;
    within-doc repeats alone don't; blank/short lines are ineligible."""
    df = spark.createDataFrame(
        [
            (1, "keep me\nBOILERPLATE FOOTER\nunique to one"),
            (2, "other text\nBOILERPLATE FOOTER\n\nmore"),
            # line repeated twice WITHIN doc 3 only -> not cross-doc
            (3, "self repeat\nself repeat\nx"),
            (4, "   BOILERPLATE FOOTER   \nlast"),
        ],
        "doc_id long, text string",
    )
    out = {r.line: r for r in dedup.duplicate_lines(df, min_chars=2).collect()}
    assert set(out) == {"BOILERPLATE FOOTER"}
    assert out["BOILERPLATE FOOTER"].n_docs == 3
    assert out["BOILERPLATE FOOTER"].n_occurrences == 3


def test_trim_duplicate_lines_modes(spark):
    """keep_first keeps the corpus-first (doc,idx) occurrence; drop_all
    removes every occurrence; untouched docs pass through verbatim with
    original inner spacing; trimming only affects the MATCH, not the
    kept text."""
    df = spark.createDataFrame(
        [
            (1, "alpha\nSHARED LINE\nomega"),
            (2, "SHARED LINE\nbody two"),
            (3, "pre\n  SHARED LINE  \npost"),
            (4, "no dups   here\nat all"),
        ],
        "doc_id long, text string",
    )
    keep = {
        r.doc_id: r
        for r in dedup.trim_duplicate_lines(df, min_chars=2).collect()
    }
    # corpus-first occurrence is (doc 1, idx 2) -> doc 1 intact
    assert keep[1].clean_text == "alpha\nSHARED LINE\nomega"
    assert keep[2].clean_text == "body two"
    assert keep[3].clean_text == "pre\npost"  # trimmed-match line cut
    assert keep[4].clean_text == "no dups   here\nat all"
    assert keep[3].n_lines == 3 and keep[3].kept_lines == 2
    drop = {
        r.doc_id: r
        for r in dedup.trim_duplicate_lines(
            df, min_chars=2, mode="drop_all"
        ).collect()
    }
    assert drop[1].clean_text == "alpha\nomega"
    assert drop[2].clean_text == "body two"
    assert drop[3].clean_text == "pre\npost"
    with pytest.raises(ValueError):
        dedup.trim_duplicate_lines(df, mode="bogus")


def test_cap_per_group_rank_and_determinism(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, 100), ("a", 2, 300), ("a", 3, 300), ("a", 4, 50),
            ("b", 5, 10),
        ],
        "src string, doc_id long, n long",
    )
    out = samp.cap_per_group(
        df, "src", 2,
        order_by=[F.col("n").desc(), F.col("doc_id").asc()],
        keep_rank=True,
    ).collect()
    got = sorted((r.src, r.doc_id, r.rk) for r in out)
    # ties on n=300 break by doc_id asc -> 2 then 3; cap at 2 keeps both
    assert got == [("a", 2, 1), ("a", 3, 2), ("b", 5, 1)]


def test_bigram_nll_orders_word_salad_below_normal_text(spark):
    """A doc reusing common words in an IMPROBABLE order must score
    worse (higher nll) than the typical-order docs that built the LM —
    the signal unigram NLL cannot see (identical unigram counts)."""
    normal = [(i, "the cat sat on the mat") for i in range(1, 9)]
    salad = [(100, "mat the on sat cat the")]  # same bag of words
    short = [(200, "one")]  # < 2 tokens -> no bigrams, excluded
    df = spark.createDataFrame(
        normal + salad + short, "doc_id long, text string"
    )
    out = {r.doc_id: r for r in textops.bigram_nll_scores(df).collect()}
    assert 200 not in out
    assert out[100].n_bigrams == 5 and out[1].n_bigrams == 5
    assert out[100].nll > out[1].nll
    # all typical docs identical text -> identical score
    assert out[1].nll == out[8].nll


def test_hashed_classifier_score_shape(spark):
    """Hashing-trick inference: deterministic across runs, weights
    bounded so score stays strictly inside (0,1), empty docs dropped,
    identical docs score identically."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "completely different words here"), (4, "   ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.hashed_classifier_score(df).collect()}
    assert 4 not in out  # no tokens
    assert out[1].score == out[2].score and out[1].raw == out[2].raw
    for r in out.values():
        assert -1.0 <= r.raw <= 1.0 and 0.0 < r.score < 1.0
    # rerun -> identical (pure function of text + seed)
    again = {r.doc_id: r for r in textops.hashed_classifier_score(df).collect()}
    assert {k: (v.raw, v.score) for k, v in out.items()} == {
        k: (v.raw, v.score) for k, v in again.items()
    }
    # a different seed is a different model
    other = {
        r.doc_id: r
        for r in textops.hashed_classifier_score(df, seed="other").collect()
    }
    assert other[1].raw != out[1].raw


def test_kmeans_assign_separable(spark):
    """Distributed Lloyd's on three well-separated blobs: every blob
    member lands with its blob's seed after 3 iterations; reruns are
    bit-identical (quantized trajectory); a duplicate seed yields an
    empty cluster that keeps its previous centroid without crashing."""
    import random

    from crux_spark.operators.similarity import kmeans_assign

    rng = random.Random(42)
    rows = []
    # ids 0..2 are the three seeds (init = first k by id), one per blob
    for i in range(30):
        blob = i % 3
        center = [10.0 * blob] * 4
        rows.append(
            (i, [c + rng.uniform(-0.5, 0.5) for c in center])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_assign(emb, k=3, iterations=3).collect()
    by_id = {r.vec_id: r.cluster for r in out}
    assert len(by_id) == 30
    for i in range(30):
        assert by_id[i] == by_id[i % 3], f"vec {i} strayed from its blob seed"
    # determinism: identical assignments and distances on a rerun
    out2 = kmeans_assign(emb, k=3, iterations=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    # k=4 gives a 4th seed inside blob 0 -> some cluster may end empty
    # mid-iteration; the run must stay total and cover every vector
    out4 = kmeans_assign(emb, k=4, iterations=3).collect()
    assert len(out4) == 30 and {r.cluster for r in out4} <= {0, 1, 2, 3}


def test_kmeans_fine_quant_large_magnitude_matches_oracle(spark):
    """r10 (advisor): with fine quant (12) and large-magnitude vectors
    the matmul-expansion's fp error exceeds a fixed 2e-quant margin —
    the self-scaling margin must still put the true rounded argmin in
    the candidate set, so the assignment matches a pure-numpy exact
    difference-form oracle bit-for-bit."""
    import random

    import numpy as np

    from crux_spark.operators.similarity import kmeans_assign

    rng = random.Random(7)
    dim, k, quant = 16, 4, 12
    # magnitudes ~1e4 => ||x||^2 ~ 1e9; eps*1e9 ~ 2e-7 >> 2e-12
    rows = [
        (i, [rng.uniform(-1e4, 1e4) for _ in range(dim)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.cluster, r.dist)
           for r in kmeans_assign(emb, k=k, iterations=1, quant=quant).collect()}

    X = np.array([v for _, v in rows], dtype=np.float64)
    C = np.round(np.array([rows[i][1] for i in range(k)]), quant)
    # exact difference-form oracle with the same rounding + tie rule
    d = np.round(
        np.sqrt(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)), quant
    )
    want_c = d.argmin(axis=1)  # argmin takes the lowest index on ties
    for i in range(200):
        assert out[i][0] == want_c[i], f"vec {i}: {out[i][0]} != {want_c[i]}"
        assert out[i][1] == d[i, want_c[i]]


def test_sq8_topk_recall(spark):
    """SQ8 shortlist+re-rank vs brute force: with a generous shortlist
    the top-5 sets coincide and the sims are EXACT (re-rank contract);
    the uint8 codes genuinely quantize (bounds span the data)."""
    import random

    import numpy as np

    from crux_spark.operators.similarity import (
        brute_force_topk,
        sq8_topk,
        sq8_train,
    )

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter("vec_id < 4").select(
        (emb.vec_id + 1000).alias("query_id"), "embedding"
    )
    lo, hi = sq8_train(emb)
    assert (np.asarray(hi) > np.asarray(lo)).all()
    exact = {
        (r.query_id, r.rank): (r.vec_id, r.sim)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.rank): (r.vec_id, r.sim)
        for r in sq8_topk(emb, queries, (lo, hi), k=5, shortlist=40).collect()
    }
    assert got == exact


def test_semantic_dedup_within_cluster_only(spark):
    """SemDeDup semantics: exact duplicates land in one cluster and the
    LOWER id is kept; near-identical vectors above threshold drop with
    dup_of pointing at the kept witness; vectors in other clusters are
    never compared (keep=True however similar conceptually)."""
    from crux_spark.operators.similarity import semantic_dedup

    base = [
        (0, [10.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 10.0, 0.0, 0.0]),
        (2, [10.0, 0.05, 0.0, 0.0]),   # near-dup of 0 (same blob)
        (3, [0.0, 10.0, 0.0, 0.0]),    # exact dup of 1
        (4, [9.8, 0.1, 0.0, 0.0]),     # near-dup of 0 too
        (5, [0.0, -10.0, 0.0, 0.0]),   # own direction
    ]
    emb = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.keep, r.dup_of)
        for r in semantic_dedup(
            emb, k=3, iterations=2, threshold=0.999
        ).collect()
    }
    assert len(out) == 6
    assert out[0] == (True, None)
    assert out[1] == (True, None)
    assert out[3] == (False, 1)       # exact dup drops, witness is id 1
    assert out[2] == (False, 0) and out[4] == (False, 0)  # cos>0.999 to 0
    assert out[5][0] is True


def test_c4_quality_flags_rules(spark):
    """Each C4 rule in isolation: terminal punctuation, >=3 words,
    javascript-line drop, lorem-ipsum page drop, curly-brace page drop,
    <5 sentences page drop."""
    from crux_spark.operators.textops import c4_quality_flags

    docs = [
        # 5 good sentences -> kept verbatim
        (1, "this line is fine.\nanother good line here!\nthird one stands?\n"
            'a quoted line ends well."\nfinal sentence stays.'),
        # line rules: no terminal punct / 2 words / javascript
        (2, "no terminal punctuation here\ntoo short.\nenable JavaScript to view this.\n"
            "good line number one.\ngood line number two.\ngood line number three.\n"
            "good line number four.\ngood line number five."),
        # page rules
        (3, "contains lorem ipsum filler.\n" + "a good long sentence here.\n" * 5),
        (4, "var x = { a: 1 }.\n" + "a good long sentence here.\n" * 5),
        (5, "only two good sentences.\nthis is the second one."),
    ]
    out = {
        r.doc_id: r
        for r in c4_quality_flags(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    assert out[1].c4_keep and out[1].clean_text == docs[0][1]
    r2 = out[2]
    assert r2.n_kept_lines == 5 and r2.n_sentences == 5 and r2.c4_keep
    assert "JavaScript" not in r2.clean_text
    assert "too short." not in r2.clean_text
    assert "no terminal punctuation" not in r2.clean_text
    assert out[3].has_lorem and not out[3].c4_keep
    assert out[4].has_brace and not out[4].c4_keep
    assert out[5].n_sentences == 2 and not out[5].c4_keep


def test_dsir_log_ratios_direction(spark):
    """DSIR sanity: a raw doc written in the target's vocabulary scores
    a HIGHER importance weight than one sharing nothing with the target;
    hand-computed lambda for a 1-token doc matches."""
    import math

    from crux_spark.operators.textops import dsir_log_ratios

    target = spark.createDataFrame(
        [(100, "alpha beta alpha beta alpha")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "zulu yankee xray"), (3, "alpha")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_log_ratios(raw, target).collect()}
    assert out[1].logw_per_token > out[2].logw_per_token
    # hand check doc 3 (one token 'alpha'): counts — target: alpha=3 of 5;
    # raw: alpha=3 of 7 (2 in doc 1 + 1 in doc 3)
    B, a = 65536, 0.5
    lam = math.log((3 + a) / (5 + a * B)) - math.log((3 + a) / (7 + a * B))
    assert abs(out[3].logw - round(lam, 6)) <= 1e-6

    # r9 (advisor): n_buckets must drive the FEATURE SPACE, not just the
    # smoothing denominators — at n_buckets=256 every bucket lands in
    # [0, 256) and the 1-token hand check holds with B=256
    out256 = {
        r.doc_id: r
        for r in dsir_log_ratios(raw, target, n_buckets=256).collect()
    }
    B = 256
    lam = math.log((3 + a) / (5 + a * B)) - math.log((3 + a) / (7 + a * B))
    assert abs(out256[3].logw - round(lam, 6)) <= 1e-6


def test_ann_partial_topk_bounded_intermediate(spark):
    """r9 scale fix: the ANN shortlist step must NEVER materialize the
    Q x N cross product into an exchange. The partial-scores frame each
    task emits is bounded by queries x shortlist x partitions, and the
    partial-then-merge pipeline is bit-equal to a global sort (same
    (score desc, vec_id asc) tie-break in both)."""
    import numpy as np
    from pyspark.sql import functions as F

    from crux_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    vecs = [(i, rng.normal(size=16).tolist()) for i in range(500)]
    corpus = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    ).repartition(7)
    queries = spark.createDataFrame(
        [(1000 + i, vecs[i][1]) for i in range(6)],
        "query_id long, embedding array<double>",
    )
    nq, shortlist, nparts = 6, 20, corpus.rdd.getNumPartitions()

    books = sim.train_pq_codebooks(corpus, m=8, ksub=16)
    pq_partials = sim.pq_partial_scores(corpus, queries, books, shortlist)
    assert pq_partials.count() <= nq * shortlist * nparts

    bounds = sim.sq8_train(corpus)
    sq_partials = sim.sq8_partial_scores(corpus, queries, bounds, shortlist)
    assert sq_partials.count() <= nq * shortlist * nparts

    # merge-of-partials == exact top-shortlist over ALL approx scores:
    # sq8 dequantized scores recomputed densely in numpy as the oracle
    lo, hi = np.asarray(bounds[0]), np.asarray(bounds[1])
    scale = np.maximum(hi - lo, 1e-12) / 255.0
    V = np.array([v for _, v in vecs])
    deq = np.clip(np.round((V - lo) / scale), 0, 255) * scale + lo
    deq = deq / np.linalg.norm(deq, axis=1, keepdims=True)
    Q = np.array([vecs[i][1] for i in range(6)])
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    scores = Q @ deq.T
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("vec_id").asc()
    )
    merged = {
        (r.query_id, r.r): r.vec_id
        for r in sq_partials.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .collect()
    }
    for qi in range(6):
        s = scores[qi].copy()
        order = np.lexsort((np.arange(500), -s))
        expect = [int(v) for v in order[:shortlist]]
        got = [merged[(1000 + qi, r)] for r in range(1, shortlist + 1)]
        assert got == expect, (qi, got[:5], expect[:5])


def test_canonical_by_quality_distributed_path(spark):
    """r9 scale fix: winners (one row per cluster) must not be
    force-broadcast — it grows with the corpus. With the broadcast
    machinery disabled entirely the join-back must still plan (as a
    shuffle join) and produce the same answer; with defaults AQE is
    free to pick broadcast at runtime from actual sizes."""
    from pyspark.sql import functions as F

    from crux_spark.operators import graph

    docs = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(60)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame(
        [(i, i + 30) for i in range(30)], "id_a long, id_b long"
    )  # 30 two-doc clusters
    expect = {
        r.doc_id: r.canonical_id
        for r in graph.canonical_by_quality(docs, pairs).collect()
    }
    assert len(expect) == 60
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        res = graph.canonical_by_quality(docs, pairs)
        plan = res._jdf.queryExecution().executedPlan().toString()
        # no hint survives to force a broadcast when the threshold is off
        assert "BroadcastHashJoin" not in plan, plan
        got = {r.doc_id: r.canonical_id for r in res.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert got == expect


def test_semantic_dedup_skew_guard(spark):
    """r9 skew guard: a deliberately hot cluster (60% of the corpus in
    one tight blob) is re-clustered at a second k-means level so no
    (cluster, subcluster) group exceeds the cap; results still cover
    every vector, exact duplicates still drop, and with the guard OFF
    the behavior is unchanged (default None)."""
    import random

    from crux_spark.operators.similarity import semantic_dedup

    rng = random.Random(5)
    hot = [
        (i, [0.9 + rng.uniform(-0.02, 0.02) for _ in range(8)])
        for i in range(300)
    ]
    rest = [
        (1000 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(
        hot + rest, "vec_id long, embedding array<double>"
    )
    stats = {}
    out = semantic_dedup(
        emb, k=4, iterations=2, threshold=0.999999,
        max_cluster_size=100, stats=stats,
    ).collect()
    assert len(out) == 500
    assert stats["n_oversized_clusters"] >= 1
    assert stats["max_group"] <= 100, stats
    # guard off: single-level grouping, same row coverage
    assert semantic_dedup(emb, k=4, iterations=2, threshold=0.999999).count() == 500


def test_lsh_params_scale_with_corpus():
    """r10 (sf1.0 bench finding): LSH signature width must grow with N
    so bucket occupancy stays flat, and the band count must keep the
    per-pair candidate probability at the threshold >= 1 - miss_prob."""
    from crux_spark.operators.similarity import _lsh_params

    r1, b1 = _lsh_params(2_200, 0.98)
    r2, b2 = _lsh_params(22_000, 0.98)
    r3, b3 = _lsh_params(1_000_000_000, 0.98)
    assert r1 < r2 < r3  # signature width grows with N
    assert r3 == 30
    for n, (r, b) in [(2_200, (r1, b1)), (22_000, (r2, b2)),
                      (1_000_000_000, (r3, b3))]:
        p = 1.0 - np.arccos(0.98) / np.pi
        miss = (1.0 - p**r) ** b
        assert miss <= 1e-9, (n, r, b, miss)
    # explicit planes pin: bands still auto-sized to the bound
    r, b = _lsh_params(None, 0.9, planes_per_band=16)
    p = 1.0 - np.arccos(0.9) / np.pi
    assert (1.0 - p**16) ** b <= 1e-9


def test_lsh_params_band_cap_warns_with_achieved_miss():
    """r10 advice: when the 512-band cap makes the documented miss_prob
    unachievable (e.g. threshold=0.8 at N~1e6 -> r=20 -> ~2000 bands
    required), _lsh_params must WARN with the achieved per-pair miss
    probability instead of silently clipping; bounded configs stay
    silent."""
    import warnings as _w

    from crux_spark.operators.similarity import _lsh_params

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        r, b = _lsh_params(1_000_000, 0.8)
    assert b == 512
    msgs = [str(c.message) for c in caught
            if "recall bound not achievable" in str(c.message)]
    assert len(msgs) == 1
    # the warning quantifies the degradation: achieved miss matches the
    # closed form at the capped band count
    p = 1.0 - np.arccos(0.8) / np.pi
    achieved = (1.0 - p**r) ** b
    assert f"{achieved:.3g}" in msgs[0]
    assert "512" in msgs[0]
    # a config whose bound IS achievable emits no warning
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        _lsh_params(22_000, 0.98)
    assert not [c for c in caught
                if "recall bound not achievable" in str(c.message)]


def test_lsh_near_dup_recall_after_rescale(spark):
    """Planted near-dups are still all recalled with auto-sized (r, b):
    LSH output == exact cosine threshold over the same corpus."""
    import random

    from crux_spark.operators.similarity import lsh_near_dup_pairs

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(300)]
    rows = [(i, v) for i, v in enumerate(base)]
    # plant 30 near-dups: tiny nudge on one component
    for i in range(30):
        v = list(base[i * 7])
        v[0] += 0.02
        rows.append((10_000 + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in
           lsh_near_dup_pairs(df, threshold=0.95, dim=16).collect()}
    vecs = dict(rows)
    want = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        va = np.array(vecs[a])
        for b_ in ids[i + 1:]:
            vb = np.array(vecs[b_])
            c = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            if c >= 0.95:
                want.add((a, b_))
    assert got == want and len(want) >= 30
