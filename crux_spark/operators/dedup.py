"""Deduplication operators for document corpora.

Scale posture (100 TB): every variant is expressed as shuffle-on-key
DataFrame ops — no driver-side state, no O(n^2) comparisons. Candidate
generation always goes through a bucket-join (hash bucket, LSH band, or
shared shingle) so the quadratic blowup is confined to within-bucket
pairs; AQE's skew-join handling splits hot buckets.

- exact:        groupBy(md5(normalized text))
- ngram-jaccard: shingle explode -> shared-shingle candidate pairs ->
                 |intersection| / |union| (exact Jaccard, MinHash oracle)
- minhash-lsh:  shingle hashes built inside the window transform ->
                 k affine permutations, min per fn (one groupBy id) ->
                 band buckets -> band join (approx Jaccard at scale).
                 IncrementalMinHashIndex keeps the band postings across
                 batches; minhash_lsh_pairs is its first batch
- simhash:      per-token 64-bit hashes -> bitwise majority -> bit-slice
                 band join -> hamming filter

Both LSH pair finders here go through one band join, _band_join: an
equi-join of (band, bucket) postings that keeps each pair only in its
first colliding band, so no shuffle deduplicates the pairs. Hyperplane
LSH (similarity.lsh_near_dup_pairs) does not: it sizes its bands up to
512, and a posting that carried every band's bucket would ship b^2
longs per vector, so it deduplicates bare id pairs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crux_spark._conf import _spread
from crux_spark._jvmcache import memo
from crux_spark.bitemporal.replay import ReplayIndex

# deterministic affine hash parameters for MinHash (public textbook
# construction: h_i(x) = (a_i * x + b_i) mod p). p = 2^31-1 keeps
# a*h + b inside int64 under ANSI arithmetic.
MERSENNE_P = (1 << 31) - 1

# The MinHash permutation aggregates, LSH band structs and SimHash bit
# aggregates/packing are pure unresolved expression trees that depend
# only on their integer parameters — building them costs hundreds of
# py4j round trips per call (the 64-bit SimHash pack alone is ~400),
# which dominated these operators' driver-side build time. They go
# through the gateway-lifetime memo, keyed by (tag, params).


def _norm_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups after whitespace/case normalization.

    Returns (content_hash, n_docs, keep_id, dup_ids) — one row per
    duplicated content value. Single shuffle on the content hash.
    """
    h = F.md5(_norm_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _shingle_hash_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, hash_window
) -> DataFrame:
    """(id, h) rows: the DISTINCT hashes of each document's word n-gram
    shingles. ``hash_window`` maps a shingle's token columns to its
    64-bit hash, so each shingle is hashed inside the window
    ``transform`` and no per-document array of shingle strings is
    built; ``array_distinct`` and the explode run over longs. The token
    array is bound as a column first, so the lambda only does array
    access (an inline split would be re-evaluated per window). A text
    of fewer than ``n`` tokens is one shingle: its whole normalized
    text, passed to ``hash_window`` as one column."""
    toks = F.split(_norm_text(F.col(text_col)), " ")
    t = _spread(df).select(F.col(id_col).alias("id"), toks.alias("__toks"))
    ws = F.col("__toks")
    k = F.size(ws) - (n - 1)
    harr = F.when(k <= 0, F.array(hash_window([F.concat_ws(" ", ws)]))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: hash_window(
                [F.element_at(ws, i + j + 1) for j in range(n)]
            ),
        )
    )
    return t.select("id", F.explode(F.array_distinct(harr)).alias("h"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing >=1
    shingle. Returns (id_a, id_b, jaccard) with id_a < id_b.

    The shared-shingle equi-join confines comparisons to plausible pairs;
    at 100 TB add a `F.hash(shingle) % B` bucket cap or MinHash-LSH
    (below) to bound candidate fan-out.
    """
    # Prefix filtering (exact similarity join): under ANY fixed global
    # ordering of shingles, two sets with Jaccard >= t must share an element
    # within each set's first |S| - ceil(t*|S|) + 1 shingles. Ordering by
    # ascending GLOBAL document frequency puts the rarest shingles in the
    # prefixes, so candidate pairs come from rare-shingle collisions — the
    # hot-shingle pair explosion of a naive shared-shingle join disappears
    # while the result set stays exactly the same.
    # shingles are carried as 64-bit xxhash values from here on: set
    # operations on long arrays are far cheaper than on strings, and at
    # ~2^32 distinct shingles the collision probability is still ~1e-10.
    # r16: hash the token windows directly with multi-arg xxhash64 —
    # same sets, no shingle strings at all. Only consumers whose results
    # are hash-independent may do this (prefix filtering is exact under
    # ANY global order and candidates are exact-verified); MinHash keeps
    # hashing the shingle STRING (shingle_hashes), because signature
    # values depend on it. Tokens carry no spaces, so string identity and
    # token-tuple identity coincide.
    # r16: document frequency as count() OVER (PARTITION BY h) instead
    # of groupBy(h)+join-back — (id, h) rows are distinct per doc
    # (array_distinct upstream), so the window count equals the groupBy
    # count row for row, and the self-join on h (plus the checkpoint
    # that existed only to share the exploded relation between the
    # aggregate and the join side) disappears: one exchange on h feeds
    # the frequency directly into each row. Same-session interleaved
    # A/B at sf0.1: 3.53/4.18/3.36 -> 3.22/3.20/2.85s e2e, identical
    # 256 pairs; one fewer synchronous checkpoint planning pass.
    ex = _shingle_hash_rows(
        df, id_col, text_col, n, lambda ws: F.xxhash64(*ws)
    )
    dfc = F.count("*").over(Window.partitionBy("h"))
    base = (
        ex.select("id", F.struct(dfc.alias("c"), F.col("h")).alias("__st"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("__st")).alias("shc"))
        .select(
            "id",
            F.transform("shc", lambda st: st["h"]).alias("sh"),
            F.size("shc").alias("n_sh"),
        )
        # base feeds three consumers (the prefix explode and both verify
        # sides): the join's build sides and the jaccard condition run
        # far cheaper over a materialized scan than over the recomputed
        # aggregate lineage (sf1, 1.2M candidates: verify 257-333s ->
        # 48-62s CPU, identical pairs). Lazy like minhash_lsh_pairs':
        # no result stage runs here (under AQE Spark still runs the
        # shuffle stages below the pin to plan it).
        .localCheckpoint(eager=False)
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefixes = base.select(
        "id", F.explode(F.slice("sh", 1, prefix_len.cast("int"))).alias("s")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    # r16: explicit repartition, not _spread — the verify is per-ROW CPU
    # (array_intersect over full shingle arrays) on a byte-tiny pair
    # list, so AQE coalesces it to a handful of tasks, and _spread's
    # byte estimate is useless here (Catalyst's self-join cardinality
    # estimate inflates it past the skip threshold). The (id_a, id_b)
    # shuffle is ~16 bytes/row and parallelism scales with the cluster.
    # Interleaved A/B at sf0.1: 3.35-3.81 -> 2.15-2.35s e2e, same 256
    # pairs (verify stage 3 -> 32 tasks).
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    hash_fn=None,
) -> DataFrame:
    """Flat (id, h) rows: distinct 64-bit shingle hashes per doc — the
    shared input of MinHash signatures AND exact set verification.
    h stays full-width 64-bit (collision odds ~1e-10 at test scale); the
    signature step reduces mod p itself.

    A shingle is the string concat_ws(" ", n consecutive tokens), hashed
    where the window is built. Deduplicating the hashes rather than the
    strings merges only shingles whose hashes collide, which changes no
    per-doc min (signatures) and no per-doc set (verification).

    ``hash_fn`` (Column -> integer Column) overrides the shingle hash;
    the default is xxhash64 (fast, JVM-native). Oracle-gated tests pass
    an external-engine-reproducible hash (e.g. an md5-prefix integer)
    so a SQL system with no xxhash64 can recompute identical
    signatures."""
    hash_fn = hash_fn or F.xxhash64
    return _shingle_hash_rows(
        df, id_col, text_col, n, lambda ws: hash_fn(F.concat_ws(" ", *ws))
    )


def md5_prefix_hash(c):
    """Portable shingle hash: the first 15 hex digits of md5 as a 60-bit
    non-negative integer — byte-identical in any engine with md5 +
    hex parsing (DuckDB: CAST('0x' || substr(md5(s),1,15) AS BIGINT)).
    Slower than xxhash64; used where an external oracle must reproduce
    MinHash signatures exactly."""
    return F.conv(
        F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10
    ).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    exploded: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over the doc's
    shingle hashes h of h_i(h). One hash aggregate over the flat (id, h)
    rows, so one shuffle on id.

    ``checkpoint=False`` skips the trailing localCheckpoint: callers
    whose FIRST consumer is itself checkpointed (banded_signatures in
    the LSH paths) get nothing from it but a synchronous Catalyst
    planning pass (~0.5s/call of pure driver time)."""
    # flat (id, base_hash) rows + ONE hash-aggregate computing all k
    # minhash permutations as min() aggs — vectorized hash agg instead of
    # k nested array transforms per row (an order of magnitude faster at
    # bench scale, same single shuffle on id).
    if exploded is None:
        exploded = shingle_hashes(df, id_col, text_col, n)
    hp = (F.abs(F.col("h")) % MERSENNE_P).alias("h")
    aggs = memo(("minhash_aggs", num_hashes), lambda: [
        F.min((F.col("h") * F.lit(2 * i + 1) + F.lit(7 * i + 3)) % MERSENNE_P).alias(
            f"m{i}"
        )
        for i in range(num_hashes)
    ])
    sig_arr = memo(("minhash_sig_arr", num_hashes), lambda: F.array(
        *[F.col(f"m{i}") for i in range(num_hashes)]
    ).alias("sig"))
    sigs = exploded.select("id", hp).groupBy("id").agg(*aggs)
    out = sigs.select("id", sig_arr)
    if checkpoint:
        # signatures feed both sides of the LSH self-join
        out = out.localCheckpoint(eager=False)
    return out


def _per_doc_sig_sets(ex: DataFrame, num_hashes: int) -> DataFrame:
    """ONE aggregation computing each doc's minhash signature AND its
    distinct shingle-hash set from flat (id, h) rows: (id, sh, sig).

    The exact-verify LSH paths previously ran two aggregations over a
    checkpointed exploded frame (collect_set for verification, min-aggs
    for signatures) — same shuffle key, two planning passes, plus the
    big flat (id, h) relation held as cached blocks. Fusing them keeps
    one shuffle, one synchronous planning pass, and caches only the
    per-doc rows. The min-agg arithmetic inlines the abs(h) % p
    projection unchanged (p = 2^31-1, so h' * 63 + c fits a long) —
    signature values are byte-identical to minhash_signatures'."""
    aggs = memo(("minhash_aggs_raw", num_hashes), lambda: [
        F.min(
            ((F.abs(F.col("h")) % MERSENNE_P) * F.lit(2 * i + 1)
             + F.lit(7 * i + 3)) % MERSENNE_P
        ).alias(f"m{i}")
        for i in range(num_hashes)
    ])
    sig_arr = memo(("minhash_sig_arr", num_hashes), lambda: F.array(
        *[F.col(f"m{i}") for i in range(num_hashes)]
    ).alias("sig"))
    return ex.groupBy("id").agg(
        F.collect_set("h").alias("sh"), *aggs
    ).select("id", "sh", sig_arr)


def banded_signatures(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Explode (id, sig) into (id, sig, band, bucket) LSH band rows —
    the persistable incremental LSH index (each row is one posting in a
    band's bucket)."""
    bb = memo(("lsh_bands", num_hashes, bands), lambda: F.explode(
        F.array(
            *[
                F.struct(F.lit(bi).alias("band"), bucket.alias("bucket"))
                for bi, bucket in enumerate(
                    _band_buckets(F.col("sig"), num_hashes, bands)
                )
            ]
        )
    ).alias("bb"))
    return sigs.select("id", "sig", bb).select(
        "id", "sig", "bb.band", "bb.bucket"
    )


def _band_buckets(sig, num_hashes: int, bands: int) -> list:
    """Each LSH band's bucket of signature column ``sig``: the hash of
    its slice of num_hashes // bands minima."""
    rows = num_hashes // bands
    return [F.hash(F.slice(sig, bi * rows + 1, rows)) for bi in range(bands)]


def _band_join(postings: DataFrame, carry: str, buckets, key: tuple,
               other: DataFrame | None = None) -> DataFrame:
    """The band join the MinHash and SimHash pair finders share: equi-join
    (id, <carry>, band, bucket) postings on (band, bucket), keeping each
    pair only in its LOWEST colliding band. Returns
    (id_a, id_b, <carry>_a, <carry>_b) with id_a < id_b.

    ``buckets`` maps a posting's carried column to the list of its band
    buckets: the MinHash signature's band hashes or the SimHash value's
    bit slices. ``key`` names that mapping for the expression cache. A
    joined row's own band collides by the join, so the rule is "no
    earlier band collides": one (band <= j OR buckets differ) term per
    lower band, which recomputes only the buckets below the row's band
    and stays plain codegen-able expressions (no lambda), so the join
    keeps whole-stage codegen. A
    posting table carries one value per id, so a pair that collides in
    several bands keeps exactly one joined row, and no shuffle on
    (id_a, id_b) deduplicates the pairs.

    ``other=None`` self-joins ``postings`` on a.id < b.id. Otherwise
    ``postings`` join ``other``, whose ids must be disjoint from theirs,
    and each row is oriented by least/greatest id."""
    a = postings.alias("a")
    b = (postings if other is None else other).alias("b")

    def build():
        band = F.col("a.band")
        ba = buckets(F.col(f"a.{carry}"))
        bb = buckets(F.col(f"b.{carry}"))
        keep = F.lit(True)
        for j in range(len(ba) - 1):
            keep = keep & ((band <= j) | (ba[j] != bb[j]))
        return keep

    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bucket") == F.col("b.bucket")
    )
    ca, cb = F.col(f"a.{carry}"), F.col(f"b.{carry}")
    if other is None:
        on = on & (F.col("a.id") < F.col("b.id"))
        cols = [F.col("a.id"), F.col("b.id"), ca, cb]
    else:
        swap = F.col("a.id") > F.col("b.id")
        cols = [
            F.least("a.id", "b.id"), F.greatest("a.id", "b.id"),
            F.when(swap, cb).otherwise(ca), F.when(swap, ca).otherwise(cb),
        ]
    names = ["id_a", "id_b", f"{carry}_a", f"{carry}_b"]
    return a.join(b, on).filter(
        memo(("band_join_keep", key, carry), build)
    ).select(*[c.alias(nm) for c, nm in zip(cols, names)])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
    verify: str = "est",
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs: the pairs
    :class:`IncrementalMinHashIndex` finds when ``df`` is its first
    batch. A batch answer is the incremental answer from an empty
    index, so both share one band join, one signature pass and one
    verification.

    verify="est": candidates verified with estimated Jaccard (signature
    agreement rate) — cheapest, fully map-side. Returns
    (id_a, id_b, est_jaccard).
    verify="exact": candidates verified with EXACT shingle-set Jaccard
    (one join back to the shingle sets) — the production dedup shape:
    LSH bounds the candidate set, the exact check removes false
    positives, so the output equals the exact similarity join wherever
    banding recall holds. Returns (id_a, id_b, jaccard).

    Scale path: band-bucket equi-join means candidate generation is a
    single shuffle on (band, bucket-hash); only banded collisions are
    compared, and each pair only in its first colliding band
    (_band_join), so no shuffle deduplicates the pairs.
    """
    return IncrementalMinHashIndex(
        df.sparkSession, n, num_hashes, bands, threshold, verify
    ).add_batch(df, id_col, text_col)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of
    token xxhash64 values. Pure array expressions, no shuffle."""
    # flat (id, token_hash) rows + one hash-aggregate summing each of the
    # 64 bit positions; per-bit majority then packs into the hash — again
    # vectorized agg instead of 64 nested filter-lambdas per row.
    toks = F.array_distinct(F.split(_norm_text(F.col(text_col)), " "))
    exploded = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(toks).alias("t")
    ).select("id", F.xxhash64("t").alias("h"))
    aggs = memo(("simhash_aggs",), lambda: [
        F.count("*").alias("n")
    ] + [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(64)
    ])

    def _build_packed():
        packed = F.lit(0).cast("long")
        for b in range(64):
            bit = (
                F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            packed = packed.bitwiseOR(F.shiftleft(bit, b))
        return packed.alias("simhash")

    counts = exploded.groupBy("id").agg(*aggs)
    return counts.select("id", memo(("simhash_pack",), _build_packed))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs via banded bucket join (pigeonhole: a pair
    within hamming distance d must agree on >=1 of d+1 disjoint bands;
    4x16-bit bands cover d<=3 exactly, larger d approximately). Each
    pair comes from its lowest colliding band (_band_join), so no
    shuffle deduplicates the pairs."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1

    def slices(c):
        return [
            F.shiftright(c, bi * band_bits).bitwiseAND(F.lit(mask))
            for bi in range(nbands)
        ]

    bb = F.explode(F.array(*[
        F.struct(F.lit(bi).alias("band"), bucket.alias("bucket"))
        for bi, bucket in enumerate(slices(F.col("simhash")))
    ])).alias("bb")
    banded = simhash(df, id_col, text_col).select("id", "simhash", bb).select(
        "id", "simhash", "bb.band", "bb.bucket"
    ).localCheckpoint(eager=False)
    # shuffled sort-merge self-join on (band, bucket): hot buckets generate
    # quadratic pair counts, and AQE's skew-join splitting only parallelizes
    # shuffle joins — a broadcast join would compute every pair in however
    # few partitions the probe side has
    pairs = _band_join(
        banded.hint("merge"), "simhash", slices, ("simhash", band_bits)
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= max_hamming)


def window_hashes(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every length-``n`` sliding window of whitespace tokens, as
    (id, pos, h): pos is the 1-based start token, h a 64-bit hash of the
    window's tokens joined on an unprintable separator. The exploded
    relation that backs substring-level dedup (Lee et al. 2021,
    arXiv:2107.06499 — their suffix-array pass; overlapping fixed-width
    windows are the shuffle-friendly equivalent for a fixed minimum
    match length).

    Scale: one narrow pass — windows are built per-row with
    transform+slice (O(len·n) character work, no shuffle) and exploded;
    nothing materializes driver-side. Hashing shrinks shuffle bytes to
    12/row downstream; 64-bit collisions at corpus scale are ~1 pair
    per 2^32 distinct windows and only ever over-merge a span."""
    ws = F.split(F.col(text_col), " ")
    t = _spread(docs.select(F.col(id_col).alias("id"), ws.alias("__ws")))
    nwin = F.size("__ws") - (n - 1)
    # sequence(1, stop) runs DESCENDING for stop < 1 ([1, 0] — and
    # slice(.., 0, n) then throws), so docs shorter than n tokens get an
    # explicitly empty window list
    starts = F.when(nwin >= 1, F.sequence(F.lit(1), nwin)).otherwise(
        F.array().cast("array<int>")
    )
    wins = F.transform(
        starts,
        lambda i: F.xxhash64(F.concat_ws("\x1f", F.slice(F.col("__ws"), i, n))),
    )
    return t.select("id", F.posexplode(wins).alias("__p0", "h")).select(
        "id", (F.col("__p0") + 1).alias("pos"), "h"
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal cross-document duplicated substrings: every span of >= n
    consecutive tokens that appears verbatim in at least one OTHER
    document, merged to maximal extent. Returns one row per span:
    (id, span_start, span_end, span_tokens) in token coordinates —
    the exact-substring layer of training-data dedup (Lee et al. 2021
    §3: duplicate text segments removed at the span, not document,
    level; crux has no analogue — this is pipeline-native).

    Plan shape at scale: window build is narrow; ONE shuffle groups
    windows by hash for the cross-doc test (partial count-distinct
    map-side); the survivors join back on h (co-partitioned with the
    agg — exchange reuse); one shuffle on id for the per-doc interval
    union. Interval union is gaps-and-islands: a duplicated window at
    pos covers tokens [pos, pos+n-1]; a new island starts where pos
    exceeds the running max end + 1. No driver state, no quadratic
    pair expansion — a window shared by k docs costs k rows, not k^2
    pairs."""
    wins = window_hashes(docs, n=n, id_col=id_col, text_col=text_col)
    dup = (
        wins.groupBy("h")
        .agg(F.count_distinct("id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    dwin = wins.join(dup, "h").select("id", "pos")
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dwin.withColumn(
        "__new",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + (n - 1)).over(w), F.lit(-1)) + 1,
            1,
        ).otherwise(0),
    )
    isl = flagged.withColumn(
        "__isl",
        F.sum("__new").over(
            Window.partitionBy("id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        isl.groupBy("id", "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document rollup of duplicate_spans: (doc_id, n_spans,
    dup_tokens, n_tokens, dup_frac) for every document that contains at
    least one cross-document duplicated >=n-token span. The triage view
    a pipeline filters or trims on before the expensive cut-and-rejoin
    rewrite."""
    spans = duplicate_spans(docs, n=n, id_col=id_col, text_col=text_col)
    ntok = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("n_tokens")
    )
    return (
        spans.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("span_tokens").alias("dup_tokens"),
        )
        .join(ntok, id_col)
        .select(
            id_col,
            "n_spans",
            "dup_tokens",
            "n_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_frac"),
        )
    )


def trim_duplicate_spans(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The cut step of span-level dedup (Lee et al. 2021 §4: remove
    every duplicated occurrence but one): for each duplicated window the
    corpus-first occurrence — lexicographically smallest (doc, pos) —
    WINS and is kept; every other occurrence is cut. Cut windows merge
    to maximal intervals per doc (same gaps-and-islands as
    duplicate_spans) and the surviving tokens reassemble in order.
    Returns (id_col, clean_text, n_tokens, kept_tokens) for EVERY
    document (unaffected docs pass through verbatim; a fully-cut doc
    keeps clean_text='').

    Plan shape: windows are narrow; one shuffle on h decides both
    cross-doc-ness and the winner (a single min_by struct agg — no
    window function over the full stream); join-back on h is
    co-partitioned; one shuffle on id for interval union + reassembly.
    The winner rule is a pure function of the corpus, so reruns and
    resharded clusters cut the SAME tokens."""
    wins = window_hashes(docs, n=n, id_col=id_col, text_col=text_col)
    winner = (
        wins.groupBy("h")
        .agg(
            F.count_distinct("id").alias("ndocs"),
            F.min(F.struct("id", "pos")).alias("w"),
        )
        .filter(F.col("ndocs") >= 2)
        .select("h", F.col("w.id").alias("wid"), F.col("w.pos").alias("wpos"))
    )
    cut = wins.join(winner, "h").filter(
        (F.col("id") != F.col("wid")) | (F.col("pos") != F.col("wpos"))
    ).select("id", "pos").dropDuplicates(["id", "pos"])
    w_hist = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = (
        cut.withColumn(
            "__new",
            F.when(
                F.col("pos")
                > F.coalesce(F.max(F.col("pos") + (n - 1)).over(w_hist), F.lit(-1))
                + 1,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                Window.partitionBy("id")
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("id", "__isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (n - 1)).alias("e"),
        )
        .groupBy("id")
        .agg(F.collect_list(F.struct("s", "e")).alias("__cuts"))
    )
    ws = F.split(F.col(text_col), " ")
    # r16: spread the reassembly side too — the per-row filter+concat
    # below is CPU-heavy per row, and a single-split corpus file
    # otherwise runs it in one task (window_hashes above already
    # spreads its own scan)
    base = _spread(docs).select(F.col(id_col), ws.alias("__ws"))
    joined = base.join(isl.withColumnRenamed("id", id_col), id_col, "left")
    cuts = F.coalesce(
        F.col("__cuts"), F.array().cast("array<struct<s:int,e:int>>")
    )
    # per-row array filter: token at 1-based position i survives unless
    # some cut interval covers i — intervals per doc are few (they are
    # maximal and disjoint), so this is cheap JVM-side work, no extra
    # shuffle for reassembly
    kept = F.filter(
        F.transform(
            F.col("__ws"), lambda t, i: F.struct((i + 1).alias("p"), t.alias("t"))
        ),
        lambda s: ~F.exists(
            cuts, lambda c: (s["p"] >= c["s"]) & (s["p"] <= c["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("clean_text"),
        F.size("__ws").alias("n_tokens"),
        F.size(kept).alias("kept_tokens"),
    )


# --- Cross-document line-level dedup (RefinedWeb / MassiveText style) --


def _line_relation(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    min_chars: int,
) -> DataFrame:
    """(id, idx, line, __norm, __eligible): every physical line of every
    document with its 1-based index. __norm is the dedup key
    (whitespace-trimmed); lines shorter than ``min_chars`` after trimming
    are ineligible for dedup (blank separators and one-char bullets
    shouldn't glue unrelated documents together)."""
    lines = F.split(F.col(text_col), sep, -1)
    # r16: spread before the split+explode — line splitting (and any
    # upstream per-row rewrap expression the caller stacked on
    # text_col) is per-row CPU that a single-split corpus file would
    # otherwise run in one task
    t = _spread(docs).select(
        F.col(id_col).alias("id"),
        F.posexplode(lines).alias("__p0", "line"),
    ).select("id", (F.col("__p0") + 1).alias("idx"), "line")
    norm = F.trim(F.col("line"))
    return t.select(
        "id",
        "idx",
        "line",
        norm.alias("__norm"),
        (F.length(norm) >= min_chars).alias("__eligible"),
    )


def duplicate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Lines repeated verbatim across documents: the triage view of
    line-level dedup (RefinedWeb, Penedo et al. 2023 §3.3 — boilerplate
    headers/footers/navigation repeat across pages of a site; MassiveText
    removes them before document-level dedup). Returns one row per
    duplicated line: (line, n_docs, n_occurrences), lines trimmed for
    comparison, ordered nowhere (set semantics).

    Scale: one narrow split+explode, ONE shuffle keyed by the line text
    (map-side partial count + count-distinct) — a line shared by k docs
    costs k rows, never k^2 pairs."""
    rel = _line_relation(docs, id_col, text_col, sep, min_chars).filter(
        "__eligible"
    )
    return (
        rel.groupBy("__norm")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("__norm").alias("line"), "n_docs", "n_occurrences")
    )


def trim_duplicate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    mode: str = "keep_first",
) -> DataFrame:
    """Remove cross-document duplicated lines and reassemble each
    document (the line-granularity sibling of trim_duplicate_spans).
    ``mode='keep_first'`` keeps the corpus-first occurrence —
    lexicographically smallest (doc, idx) — and cuts every other
    occurrence (Lee et al. 2021 keep-one semantics); ``mode='drop_all'``
    cuts every occurrence (RefinedWeb's boilerplate removal: a line
    repeated across >= min_docs documents is navigation/chrome and no
    copy is worth keeping). Returns (id_col, clean_text, n_lines,
    kept_lines) for EVERY document; untouched docs pass through
    verbatim (original spacing inside lines preserved — only whole
    lines are removed).

    Plan shape: split+explode is narrow; one shuffle on the trimmed
    line decides cross-doc-ness and the winner in a single min_by
    struct agg (no global window); join-back on the same key is
    co-partitioned (exchange reuse); one shuffle on id collects each
    doc's cut indexes; reassembly is a per-row array filter — no extra
    shuffle. Deterministic: the winner is a pure function of the
    corpus, so reruns cut the SAME lines."""
    if mode not in ("keep_first", "drop_all"):
        raise ValueError(f"mode must be keep_first or drop_all, got {mode!r}")
    rel = _line_relation(docs, id_col, text_col, sep, min_chars)
    elig = rel.filter("__eligible")
    dup = (
        elig.groupBy("__norm")
        .agg(
            F.count_distinct("id").alias("__nd"),
            F.min(F.struct("id", "idx")).alias("__w"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select(
            "__norm",
            F.col("__w.id").alias("__wid"),
            F.col("__w.idx").alias("__widx"),
        )
    )
    cut = elig.join(dup, "__norm")
    if mode == "keep_first":
        cut = cut.filter(
            (F.col("id") != F.col("__wid")) | (F.col("idx") != F.col("__widx"))
        )
    cuts = cut.groupBy("id").agg(F.collect_list("idx").alias("__cuts"))
    lines = F.split(F.col(text_col), sep, -1)
    # r16: same spread as trim_duplicate_spans' reassembly side
    base = _spread(docs).select(F.col(id_col), lines.alias("__ls"))
    joined = base.join(
        cuts.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "__cuts", F.coalesce(F.col("__cuts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.transform(
            F.col("__ls"), lambda l, i: F.struct((i + 1).alias("p"), l.alias("l"))
        ),
        lambda s: ~F.array_contains(F.col("__cuts"), s["p"]),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(sep, F.transform(kept, lambda s: s["l"])).alias(
            "clean_text"
        ),
        F.size("__ls").alias("n_lines"),
        F.size(kept).alias("kept_lines"),
    )


class IncrementalMinHashIndex(ReplayIndex):
    """MinHash-LSH near-dup index maintained incrementally from document
    batches — :func:`minhash_lsh_pairs` is its first batch — and the
    near-dup counterpart of the exact streaming dedup (the reference
    has only tx-time exact match; this is part of the pipeline-operator
    extension family, like IncrementalVectorIndex / IncrementalTextIndex
    which follow the reference's register-index! replay seam,
    crux-core/src/crux/tx.clj).

    State is the banded-signature postings table (id, sig, band, bucket)
    — one row per LSH posting, exactly the relation
    :func:`banded_signatures` calls "the persistable incremental LSH
    index" — plus (in exact mode) the shingle sets used for
    verification. Each ``add_batch``:

      1. shingles + signs the NEW docs only (one projection, no
         full-corpus pass);
      2. joins new postings against new+existing postings on
         (band, bucket) through _band_join — candidate generation stays
         a bucket equi-join at any corpus size, each pair from its
         first colliding band;
      3. verifies candidates (exact shingle-set Jaccard, or signature
         agreement in ``verify="est"`` mode) and RETURNS the pairs that
         involve at least one new doc;
      4. merges the new postings/sets in by id (left-anti + union, the
         merge of bitemporal/replay.py).

    Invariant (pytest-pinned): the union of add_batch outputs over any
    partition of a corpus equals the batch ``minhash_lsh_pairs`` output
    on the whole corpus — each qualifying pair is emitted exactly once,
    in the batch where its LATER member arrived. Re-putting an id
    replaces its postings and re-evaluates its pairs (documented: the
    pair re-emits against the new text).

    100 TB posture: postings are ~bands rows/doc and partition by
    (band, bucket); the exact-mode shingle-set table is the verification
    cost the batch operator pays too — drop to ``verify="est"`` where
    storing sets is not worth signature-only precision. No driver-side
    state.

    Checkpointable through CheckpointStore's ``indexes=`` seam like the
    other incremental indexes: save() writes postings (partitioned by
    band) + sets + params.
    """

    STATE = {"postings": "band", "sets": None}
    ID = "id"
    PARAMS = ("n", "num_hashes", "bands", "threshold", "verify")

    def __init__(self, spark, n: int = 3, num_hashes: int = 32,
                 bands: int = 16, threshold: float = 0.5,
                 verify: str = "exact", hash_fn=None):
        if num_hashes % bands:
            raise ValueError("num_hashes must be divisible by bands")
        if verify not in ("exact", "est"):
            raise ValueError(f"unknown verify mode {verify!r}")
        super().__init__(spark)
        self.hash_fn = hash_fn  # None = xxhash64; see shingle_hashes
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.threshold = threshold
        self.verify = verify

    def add_batch(self, docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
        """Index a batch of documents; return the near-dup pairs this
        batch creates: (id_a, id_b, jaccard|est_jaccard) with every pair
        involving >=1 doc from this batch, ordered id_a < id_b."""
        return self._add(docs, id_col, text_col, None)

    def listener(self, epoch_id: int, ops_batch: DataFrame,
                 text_field: str = "text",
                 max_tx: int | None = None) -> DataFrame:
        """tx-log form (register-index! seam): index each entity's final
        put doc text and return the pairs it creates. Every other touched
        entity — deleted, evicted, or re-put without the text field —
        drops its postings, so later docs stop pairing against it."""
        return self._replay(ops_batch, text_field, max_tx)

    def _apply(self, touched: DataFrame, puts: DataFrame) -> DataFrame:
        return self._add(puts, "eid", "value",
                         touched.withColumnRenamed("eid", "id"))

    def _add(self, docs: DataFrame, id_col: str, text_col: str,
             touched: DataFrame | None) -> DataFrame:
        """add_batch, with `touched` the ids whose old state goes (None:
        the batch's own ids)."""
        eager = self._eager()
        ex = shingle_hashes(docs, id_col, text_col, self.n,
                            hash_fn=self.hash_fn)
        # exact mode: ONE fused per-doc aggregation yields signature +
        # shingle set, lazily checkpointed so the candidate join, the
        # verification and the state merge share one computation
        per_doc = None
        if self.verify == "exact":
            per_doc = _per_doc_sig_sets(
                ex, self.num_hashes
            ).localCheckpoint(eager=False)
            sigs = per_doc.select("id", "sig")
        else:
            sigs = minhash_signatures(
                docs, id_col, text_col, self.n, self.num_hashes,
                exploded=ex, checkpoint=False,  # new_banded ckpt'd below
            )
        # the batch's banded postings feed the candidate join AND the
        # state merge. In exact mode the banding explode is a narrow map
        # over the checkpointed per_doc frame, which consumers re-run;
        # in est mode new_banded is the batch's only plan-truncation
        # point, checkpointed lazily so the whole batch runs as one job
        new_banded = banded_signatures(sigs, self.num_hashes, self.bands)
        if per_doc is None:
            new_banded = new_banded.localCheckpoint(eager=False)
        if touched is None:
            # exact mode: per_doc is one row per doc, so its ids need no
            # distinct shuffle
            touched = (per_doc.select("id") if per_doc is not None
                       else new_banded.select("id").distinct())

        # candidate generation: new x (existing + new), each pair only in
        # its first colliding band. In-batch pairs self-join the new
        # postings on a.id < b.id; cross pairs join them against the old
        # postings, with the touched ids anti-joined out, so each
        # candidate pair is emitted exactly once.
        def sig_bands(c):
            return _band_buckets(c, self.num_hashes, self.bands)

        key = ("minhash", self.num_hashes, self.bands)
        cands = _band_join(new_banded, "sig", sig_bands, key)
        if self.postings is not None:
            old = self.postings.join(touched, "id", "left_anti")
            cands = cands.unionByName(
                _band_join(new_banded, "sig", sig_bands, key, other=old)
            )

        if self.verify == "exact":
            pairs = cands.select("id_a", "id_b")
            # the merged sets serve both the verify join (which reads
            # them twice) and the accumulated state
            all_sets = self._merge(
                "sets", touched, per_doc.select("id", "sh"), eager
            )
            sa = all_sets.select(F.col("id").alias("id_a"),
                                 F.col("sh").alias("sh_a"))
            sb = all_sets.select(F.col("id").alias("id_b"),
                                 F.col("sh").alias("sh_b"))
            n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
            out = (
                pairs.join(sa, "id_a").join(sb, "id_b")
                .withColumn(
                    "jaccard",
                    F.round(
                        n_inter
                        / (F.size("sh_a") + F.size("sh_b") - n_inter), 6
                    ),
                )
                .filter(F.col("jaccard") >= self.threshold)
                .select("id_a", "id_b", "jaccard")
            )
        else:
            agree = F.size(F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            ))
            out = (
                cands.withColumn(
                    "est_jaccard", F.round(agree / F.lit(self.num_hashes), 6)
                )
                .filter(F.col("est_jaccard") >= self.threshold)
                .select("id_a", "id_b", "est_jaccard")
            )

        self._merge("postings", touched, new_banded, eager)
        return out
