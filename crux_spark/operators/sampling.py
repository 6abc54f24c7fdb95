"""Deterministic sampling / split operators for training-data pipelines.

Random sampling (df.sample) is neither stable across runs nor across
cluster sizes — a training-data pipeline needs the SAME doc to land in
the same split every run, on any cluster, so downstream caches and
decontamination lists stay valid. The standard trick is content-addressed
(hash-mod) sampling: a pure narrow filter, no shuffle, no state, pushes
through any plan, and composes with itself (a 1% sample of a 10% sample
is the same as sampling at 0.1% directly when the bucket spaces nest).

Scale: the predicate is a single JVM-side hash + compare per row —
whole-stage-codegen'd, zero shuffle, works identically at 100 TB.

contaminated_docs has no Bloom prefilter: a Python-UDF filter costs
more than the broadcast join it would screen for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: str,
    seed: int = 0,
    complement: bool = False,
    method: str = "xxhash64",
) -> DataFrame:
    """Keep ~rate of rows, chosen deterministically by key hash.

    method='xxhash64' (default): production path, 64-bit hash mod 1e6
    buckets — rate resolution 1e-6, seed shifts the bucket space.
    method='md5': restricted to functions every SQL engine shares
    (md5 + substring), so an external system can reproduce the exact
    member set; rate is quantized to sixteenths (first hex nibble).
    complement=True returns the held-out rows instead (exact set
    complement — train/test splits are guaranteed disjoint and
    exhaustive)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    if method == "xxhash64":
        # xxhash64 is null-safe (a NULL key hashes to the seed), so
        # null-keyed rows land deterministically in one bucket
        h = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(_BUCKETS))
        keep = h < int(round(rate * _BUCKETS))
    elif method == "md5":
        # md5(NULL) is NULL, and both filter(NULL) and filter(~NULL)
        # drop the row — coalesce to a sentinel BEFORE hashing so every
        # null-keyed row lands in exactly one side of the split
        key = F.coalesce(
            F.col(key_col).cast("string"), F.lit("\x00__null_key__")
        )
        k = int(round(rate * 16))
        nibbles = list("0123456789abcdef")[:k]
        nib = F.substring(F.md5(key), 1, 1)
        keep = nib.isin(nibbles) if nibbles else F.lit(False)
    else:
        raise ValueError(f"unknown method {method!r}")
    return df.filter(~keep if complement else keep)


def hash_split(
    df: DataFrame, test_rate: float, key_col: str, seed: int = 0
) -> tuple[DataFrame, DataFrame]:
    """(train, test) as exact complements under the same hash space."""
    test = hash_sample(df, test_rate, key_col, seed=seed)
    train = hash_sample(df, test_rate, key_col, seed=seed, complement=True)
    return train, test


def stratified_hash_sample(
    df: DataFrame,
    rates: dict,
    stratum_col: str,
    key_col: str,
    seed: int = 0,
    default_rate: float = 0.0,
    method: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling: ``rates`` maps stratum value
    (e.g. language, source domain) -> keep rate; strata absent from the
    map use ``default_rate``. The corpus-rebalancing step of training
    pipelines ("downsample en to 30%, keep the rest") as ONE
    whole-stage-codegen'd filter — the per-row threshold is a broadcast
    literal map lookup, the hash is the same bucket space as
    hash_sample (so stratified samples nest inside plain samples), and
    there is no shuffle and no per-stratum pass.

    method='md5' restricts to md5+substring like hash_sample (rates
    quantized to sixteenths, externally reproducible)."""
    for r in [*rates.values(), default_rate]:
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rates must be in [0,1], got {r}")
    if method == "xxhash64":
        thresholds = {
            k: int(round(r * _BUCKETS)) for k, r in rates.items()
        }
        thr_map = F.create_map(
            *[F.lit(x) for kv in sorted(thresholds.items()) for x in kv]
        )
        thr = F.coalesce(
            thr_map[F.col(stratum_col)],
            F.lit(int(round(default_rate * _BUCKETS))),
        )
        h = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(_BUCKETS))
        return df.filter(h < thr)
    if method == "md5":
        ks = {k: int(round(r * 16)) for k, r in rates.items()}
        thr_map = F.create_map(
            *[F.lit(x) for kv in sorted(ks.items()) for x in kv]
        )
        thr = F.coalesce(
            thr_map[F.col(stratum_col)], F.lit(int(round(default_rate * 16)))
        )
        key = F.coalesce(
            F.col(key_col).cast("string"), F.lit("\x00__null_key__")
        )
        nib = F.conv(F.substring(F.md5(key), 1, 1), 16, 10).cast("int")
        return df.filter(nib < thr)
    raise ValueError(f"unknown method {method!r}")


def _shingle_relation(df: DataFrame, keep_cols: list, text_col: str, n: int):
    """(keep_cols..., sh) with one row per n-word shingle. The word
    array is MATERIALIZED as a column before the window slide: inlining
    it into the transform lambda makes Catalyst re-evaluate the whole
    regexp+split chain per element (measured ~100x slower on 250k
    shingles) — here it's computed once per document, then indices
    explode and each row slices the bound array."""
    ws = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "), " "),
        lambda w: w != "",
    )
    with_ws = df.select(*keep_cols, ws.alias("__ws"))
    n_sh = F.size(F.col("__ws")) - (n - 1)
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    exploded = with_ws.select(*keep_cols, "__ws", F.explode(idx).alias("__i"))
    return exploded.select(
        *keep_cols,
        F.concat_ws(" ", F.slice(F.col("__ws"), F.col("__i"), n)).alias("sh"),
    )


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: docs sharing at least one n-word
    shingle with the benchmark corpus, with the shared-shingle count —
    the standard n-gram-overlap contamination check run before training
    (n=13 is the common choice for natural text; lower it for short
    synthetic docs).

    Plan shape at scale: shingles are xxhash64'd to 8-byte keys at the
    explode (the join and distinct never carry the n-word strings —
    ~10x narrower rows; a false positive needs a 64-bit collision
    between a benchmark and a corpus shingle, ~n^2/2^64); benchmark
    hashes are DISTINCT-ed then broadcast (benchmarks are small
    relative to the corpus — if not, the join degrades gracefully to a
    shuffle hash join on the hash); the corpus side is one
    projection + explode, no self-join. Returns (id_col, n_shared) for
    flagged docs only."""
    d_sh = _shingle_relation(docs, [F.col(id_col)], text_col, n).select(
        F.col(id_col), F.xxhash64("sh").alias("sh")
    )
    b_sh = (
        _shingle_relation(benchmark, [], text_col, n)
        .select(F.xxhash64("sh").alias("sh"))
        .distinct()
    )
    return (
        d_sh.join(F.broadcast(b_sh), "sh")
        .groupBy(id_col)
        .agg(F.count_distinct("sh").alias("n_shared"))
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Graded contamination: for EVERY doc with at least one n-word
    shingle, (id, n_shingles, n_shared, contam_frac) — the score form of
    contaminated_docs, for threshold-tuning instead of a hard flag.
    Same scale shape (hashed shingles, benchmark side distinct +
    broadcast, corpus side never self-joins); clean docs report 0.
    Docs too short to form one shingle emit no row (no shingle set to
    score)."""
    d_sh = (
        _shingle_relation(docs, [F.col(id_col)], text_col, n)
        .select(F.col(id_col), F.xxhash64("sh").alias("sh"))
        .distinct()
    )
    b_sh = (
        _shingle_relation(benchmark, [], text_col, n)
        .select(F.xxhash64("sh").alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        d_sh.join(F.broadcast(b_sh), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_shared"),
            F.round(F.count("__hit") / F.count("*"), 6).alias("contam_frac"),
        )
    )


def dedup_text_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
) -> DataFrame:
    """Corpus-level chunk deduplication (boilerplate removal): split each
    document into consecutive chunk_words-word chunks, drop every chunk
    that already occurred EARLIER in the corpus (global (doc, position)
    order — first occurrence wins), reassemble the survivors in order.
    Returns (id_col, clean_text) for documents retaining >=1 chunk —
    the repeated-passage scrub training pipelines run after document-
    level dedup.

    Plan shape at scale: one shuffle on the chunk for the first-wins
    window, one on the doc id for reassembly; chunking itself is a
    narrow pass with the word array materialized once per row."""
    from pyspark.sql import Window

    ws = F.split(F.col(text_col), " ")
    t = docs.select(F.col(id_col), ws.alias("__ws"))
    nch = F.ceil(F.size("__ws") / float(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(nch, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("__ws"), (i - 1) * chunk_words + 1, chunk_words)
        ),
    )
    ex = t.select(
        F.col(id_col), F.posexplode(chunks).alias("__ci0", "chunk")
    ).select(F.col(id_col), (F.col("__ci0") + 1).alias("ci"), "chunk")
    w = Window.partitionBy("chunk").orderBy(F.col(id_col).asc(), F.col("ci").asc())
    kept = ex.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ci", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("clean_text")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    count_col: str | None = None,
) -> DataFrame:
    """GPT-style concat-and-split sequence packing: documents are laid
    end-to-end in a deterministic global order and the token stream is
    cut into fixed ``seq_len`` sequences. Returns one row per
    (document, sequence) span:

        (doc_id, n_tokens, seq_id, beg, fin)

    where [beg, fin) is the slice of sequence ``seq_id`` the document
    occupies. Every token of every document lands in exactly one
    sequence slot; a document longer than seq_len spans several
    sequences (standard pretraining packing — no padding waste, no bin
    packing heuristics to de-randomize).

    Deterministic global order: md5(doc_id) (externally reproducible,
    like hash_sample's md5 mode), tie-broken by doc_id. The global
    prefix-sum is computed SCALE-SAFE: Spark's Window.orderBy with no
    partition key would funnel 100 TB through one task, so instead the
    order key's first two hex chars bucket the rows (a PREFIX of the
    order key, so bucket order == global order), each bucket cumsums
    locally, and the 256 bucket totals prefix-sum on the driver and
    broadcast back — the textbook two-pass distributed scan."""
    if count_col is None:
        d = df.select(
            F.col(doc_id_col),
            F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__n"),
        )
    else:
        d = df.select(F.col(doc_id_col), F.col(count_col).alias("__n"))
    d = d.withColumn("__ok", F.md5(F.col(doc_id_col).cast("string")))
    d = d.withColumn("__b", F.substring("__ok", 1, 2))
    from pyspark.sql import Window

    w = Window.partitionBy("__b").orderBy("__ok", doc_id_col)
    d = d.withColumn("__local_end", F.sum("__n").over(w))
    totals = {
        r["__b"]: r["t"]
        for r in d.groupBy("__b").agg(F.sum("__n").alias("t")).collect()
    }
    offs, acc = {}, 0
    for b in sorted(totals):
        offs[b] = acc
        acc += totals[b]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offs.items()) for x in kv]
    )
    d = (
        d.withColumn("__start", off_map[F.col("__b")] + F.col("__local_end") - F.col("__n"))
        .withColumn("__end", F.col("__start") + F.col("__n"))
        .filter(F.col("__n") > 0)
    )
    L = F.lit(int(seq_len)).cast("long")
    return (
        d.withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("__start") / L),
                    F.floor((F.col("__end") - 1) / L),
                )
            ),
        )
        .select(
            F.col(doc_id_col),
            F.col("__n").alias("n_tokens"),
            F.col("seq_id").cast("long").alias("seq_id"),
            F.greatest(F.col("__start") - F.col("seq_id") * L, F.lit(0).cast("long")).alias("beg"),
            F.least(F.col("__end") - F.col("seq_id") * L, L).alias("fin"),
        )
    )


def mix_corpora(
    sources: list,
    key_col: str = "doc_id",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic domain mixing: ``sources`` is [(df, rate), ...];
    each source contributes floor(rate) full epochs plus a hash-sampled
    fractional epoch, all tagged with an ``epoch`` column (0-based copy
    index) and a ``source`` index. rate=2.5 -> every doc twice + a
    deterministic 50% third epoch; rate=0.3 -> a 30% sample. The same
    doc always lands in the same epochs on any cluster (hash_sample),
    so mixture weights are reproducible run-to-run — the
    dataset-mixture step of training pipelines, as a pure union of
    narrow filters (no shuffle)."""
    parts = []
    for i, (df, rate) in enumerate(sources):
        if rate < 0:
            raise ValueError(f"rate must be >= 0, got {rate}")
        whole = int(rate)
        frac = rate - whole
        for ep in range(whole):
            parts.append(
                df.withColumn("source", F.lit(i)).withColumn("epoch", F.lit(ep))
            )
        if frac > 1e-9:
            parts.append(
                hash_sample(df, frac, key_col, seed=i, method=method)
                .withColumn("source", F.lit(i))
                .withColumn("epoch", F.lit(whole))
            )
    if not parts:
        raise ValueError("no sources")
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts)


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.5,
    budget_ratio: float = 1.0,
    key_col: str = "doc_id",
    method: str = "md5",
) -> DataFrame:
    """Temperature (alpha) sampling mixture — the multilingual/
    pretraining data-mixture rule of Conneau et al. 2020
    (arXiv:1911.02116 §3.1; also mC4/PaLM): source i holding n_i docs
    is drawn with probability p_i ∝ n_i^alpha, which at a total budget
    of budget_ratio * Σn means a per-source replication rate
    r_i = p_i * budget / n_i — small sources upsample (multiple
    epochs), big sources downsample. alpha=1 reproduces natural
    proportions; alpha=0 gives uniform-by-source.

    Scale shape: ONE tiny per-source count aggregate (rows = #sources)
    reaches the driver; rates feed mix_corpora's union of narrow
    filters (no shuffle). Under method='md5' rates are quantized to
    sixteenths so an external SQL engine reproduces the exact member
    set; the rate arithmetic is ordered to match a SQL mirror
    ((n^a / Σn^a) * (budget_ratio * Σn) / n) — the Σn^a float sum is
    the one order-sensitive term (documented residual ~1e-12 boundary
    risk, same class as kmeans_assign's quantized trajectory).
    Source tags in the output are the dense rank of the sorted source
    values."""
    import math

    counts = {
        r[0]: r[1] for r in df.groupBy(source_col).count().collect()
    }
    if not counts:
        raise ValueError("temperature_mix: empty input")
    order = sorted(counts)
    tot = sum(counts[s] for s in order)
    denom = sum(counts[s] ** alpha for s in order)
    sources = []
    for s in order:
        n = counts[s]
        rate = (n ** alpha / denom) * (budget_ratio * tot) / n
        if method == "md5":
            rate = math.floor(rate * 16 + 0.5) / 16.0
        sources.append((df.filter(F.col(source_col) == s), rate))
    return mix_corpora(sources, key_col=key_col, method=method)


def epoch_shard_shuffle(
    df: DataFrame,
    seed: str = "s",
    epoch: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-epoch shuffle + shard assignment — the
    export step a training pipeline runs per epoch: every row gets a
    (shard, idx) position that is a pure function of (seed, epoch, id),
    so any worker on any cluster re-derives the same order with no
    driver RNG, no global coordination, and bit-identical resumes.

    Mechanism: key = md5(seed:epoch:id) (a fresh pseudo-random
    permutation per epoch), shard = first hex nibble mod n_shards,
    idx = rank of the key within its shard.

    Scale: ONE hash-shuffle on shard, then a per-shard window sort —
    never a global total-order sort (a single-partition row_number is
    the classic 100 TB bottleneck; shards bound every sort to
    corpus/n_shards rows and shard count is chosen >= cluster
    parallelism). Readers stream shard files independently; epoch+1 is
    a new key, not a new plan.
    """
    if not 1 <= n_shards <= 16:
        # first-nibble sharding keeps the shard fn trivially portable
        # (any engine can substr a hex digest); widen via more nibbles
        # if a deployment needs >16 shards
        raise ValueError("n_shards must be in 1..16")
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.lit(str(epoch)),
                    F.col(id_col).cast("string"))
    )
    from pyspark.sql import Window

    out = df.withColumn("__key", key).withColumn(
        "shard",
        (F.conv(F.substring("__key", 1, 1), 16, 10).cast("int")
         % F.lit(int(n_shards))).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy(F.col("__key").asc(),
                                            F.col(id_col).asc())
    return (
        out.withColumn("idx", F.row_number().over(w).cast("long"))
        .drop("__key")
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    quality_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    count_col: str | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """Quality-ranked corpus selection under a token budget: take
    documents in (quality desc, id asc) order until ``budget`` tokens
    are reached; the document that crosses the budget line is included
    (the budget is a target, not a cap — matching how pretraining data
    curation fills a token quota from the top of a quality ranking).
    Returns (id_col, quality_col, n_tokens, cum_before) for the
    selected documents.

    Scale: a global Window.orderBy would funnel the corpus through ONE
    task, so the global prefix-sum runs as the two-pass distributed
    scan: rows bucket by which quality-quantile range they fall in
    (boundaries from approxQuantile — only bucket BALANCE is
    approximate; bucket order always equals global order because the
    bucket is a pure function of the quality value), each bucket
    cumsums locally under its own window, and the n_buckets totals
    prefix-sum on the driver and broadcast back."""
    df = df.filter(F.col(quality_col).isNotNull())  # unrankable rows
    if count_col is None:
        d = df.select(
            F.col(id_col),
            F.col(quality_col),
            F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__n"),
        )
    else:
        d = df.select(
            F.col(id_col), F.col(quality_col), F.col(count_col).alias("__n")
        )
    # descending-quality bucket index: 0 = best. Boundaries are interior
    # quantiles; searchsorted via array + filter keeps it JVM-side.
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(df.select(quality_col).approxQuantile(quality_col, qs, 0.001)))
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    # count of boundaries strictly greater than the value = number of
    # quantile ranges ABOVE this row = its descending bucket index
    d = d.withColumn(
        "__b",
        F.size(F.filter(barr, lambda b: b > F.col(quality_col).cast("double"))),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__b").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    d = d.withColumn("__local_end", F.sum("__n").over(w))
    totals = {
        r["__b"]: r["t"]
        for r in d.groupBy("__b").agg(F.sum("__n").alias("t")).collect()
    }
    offs, acc = {}, 0
    for b in sorted(totals):
        offs[b] = acc
        acc += totals[b]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offs.items()) for x in kv]
    )
    d = d.withColumn(
        "cum_before", off_map[F.col("__b")] + F.col("__local_end") - F.col("__n")
    )
    return d.filter(F.col("cum_before") < F.lit(int(budget))).select(
        F.col(id_col),
        F.col(quality_col),
        F.col("__n").alias("n_tokens"),
        F.col("cum_before").cast("long").alias("cum_before"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_by: list | None = None,
    keep_rank: bool = False,
) -> DataFrame:
    """Keep at most ``n`` rows per group, by rank under ``order_by``
    (list of Columns; default: ascending by every non-group column name,
    deterministic). The per-domain cap of web-corpus curation — an
    over-represented domain (or source, or license bucket) must not
    dominate the training mix, so each group contributes its top-n by
    quality/length and no more. ``keep_rank=True`` appends the 1-based
    rank column ``rk``.

    Scale shape: ONE hash-shuffle on the group key + a per-group sort
    (row_number window) + a codegen'd filter — no global sort, no
    driver state. Group skew is the only hazard (one mega-domain =
    one hot partition); AQE's skew handling splits oversized partitions
    post-shuffle, and the window itself is streaming (rank-filter
    short-circuits memory at n rows only with a full sort per group —
    acceptable because per-group data is one partition's slice, not the
    corpus)."""
    from pyspark.sql import Window

    if order_by is None:
        order_by = [
            F.col(c).asc() for c in df.columns if c != group_col
        ]
    w = Window.partitionBy(group_col).orderBy(*order_by)
    out = df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= n
    )
    return out if keep_rank else out.drop("rk")
