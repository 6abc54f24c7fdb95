"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. zip_with + aggregate dot
  product — JVM-side, codegen'd; the query side is broadcast so the big
  corpus never shuffles.
- IVF (inverted-file) top-k: the 100 TB scale path. Corpus is
  pre-partitioned into nlist cells by nearest centroid (a tiny broadcast
  table); a query probes only nprobe cells, so the scan is
  nprobe/nlist of the corpus. Centroids here come from a deterministic
  sample + one Lloyd iteration in numpy on the driver (k-means over a
  bounded sample — the standard IVF training shortcut).
- LSH (random hyperplane) bucketed cosine: sign-bit signatures ->
  bucket join, approximate but fully shuffle-local.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crux_spark._localframe import local_frame
from crux_spark.bitemporal.replay import ReplayIndex


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set
    against the corpus, window top-k. Returns (query_id, vec_id, sim, rank).

    Contract: this is the EXACT BASELINE for a bounded query set — the
    scoring stays JVM-side (codegen'd zip/aggregate dot product, which
    is also what keeps its rounding bit-aligned with the DuckDB
    oracles), and the top-k window consequently shuffles the Q x N
    scored rows. For corpus-scale query sets use ivf_topk (probes
    nprobe/nlist of the corpus) or pq_topk/sq8_topk (streaming partial
    top-k inside the scan; exchange bounded by Q x shortlist x
    partitions)."""
    qs = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim",
            cosine(
                F.col("cvec").cast("array<double>"), F.col("qvec").cast("array<double>")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank")
    )


def train_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    sample_limit: int = 10000,
    iterations: int = 5,
) -> np.ndarray:
    """Deterministic k-means centroids from a bounded corpus sample
    (IVF training). Driver-side numpy on <= sample_limit rows — the
    bounded-sample pattern that stays O(1) in corpus size."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_limit).collect()],
        dtype=np.float64,
    )
    cents = sample[:: max(1, len(sample) // nlist)][:nlist]
    for _ in range(iterations):
        d = sample @ cents.T
        norms = np.linalg.norm(sample, axis=1, keepdims=True) * np.linalg.norm(
            cents, axis=1
        )
        assign = np.argmax(d / np.maximum(norms, 1e-12), axis=1)
        for ci in range(len(cents)):
            members = sample[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return cents


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column:
    (id, cluster, dist) after ``iterations`` assignment passes —
    document clustering for corpus curation (topic balancing, cluster
    canonical picks), distinct from train_centroids' bounded-sample IVF
    codebook: HERE every assignment pass and every centroid update is
    distributed over the full corpus.

    Scale shape per iteration: one vectorized Arrow pass assigns each
    row against the broadcast k x dim centroid matrix (map-only), and
    ONE shuffle computes the elementwise centroid means as dim avg()
    aggregates with map-side partial aggregation; the k x dim result
    (kilobytes) is collected and rebroadcast. Nothing corpus-sized ever
    reaches the driver.

    Determinism across engines and partitionings: float sums are
    order-sensitive, so centroid means are QUANTIZED to 10^-quant after
    every update and distances to 10^-quant before the argmin (ties ->
    lowest cluster id); the iteration trajectory is then a pure
    function of the data. The candidate margin self-scales with a
    per-row fp-error bound (r10), so fine quant / large-magnitude
    vectors can no longer push the true rounded argmin outside the
    candidate set. Residual risk (documented, not eliminated): a mean
    whose exact value sits within ~1e-10 of a 10^-quant rounding
    boundary can round differently across engines/partitionings and
    shift the trajectory. Init = the first k vectors by id."""
    init = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    cents = np.array([list(r[0]) for r in init], dtype=np.float64)
    dim = cents.shape[1]
    spark = corpus.sparkSession

    from pyspark.sql.functions import pandas_udf

    def assign_with(C: np.ndarray):
        Cq = np.round(C, quant)
        c_sq = (Cq**2).sum(axis=1)  # [k]

        @pandas_udf("struct<cluster:int, dist:double>")
        def assign(v: pd.Series) -> pd.DataFrame:
            M = np.stack(v.to_numpy()).astype(np.float64)
            # candidate selection via the matmul expansion
            # ||x||^2 - 2 x.c + ||c||^2: a [batch, k] temp, never the
            # [batch, k, dim] 3-D difference tensor (at paper-scale
            # k~1e5, dim 512+ that temp is tens of GB per Arrow batch).
            # The expansion suffers cancellation for tiny distances, so
            # the REPORTED distance is recomputed in the exact
            # difference form — but only for clusters within a margin
            # of the row's minimum (almost always 1), keeping the
            # recompute at ~[batch, dim] while staying bit-identical to
            # a full difference-form kernel.
            d2 = (
                (M**2).sum(axis=1)[:, None]
                - 2.0 * (M @ Cq.T)
                + c_sq[None, :]
            )
            da = np.sqrt(np.maximum(d2, 0.0))
            dmin = da.min(axis=1)
            # margin: one rounding step (1e-quant) covers any cluster
            # whose ROUNDED distance could tie or beat the winner, PLUS
            # a per-row bound on the expansion's own fp error — r9
            # advice: a fixed 2e-quant silently under-covers when quant
            # is fine (>=~10) or vectors are large-magnitude. The d2
            # error is ~gamma*(||x||^2+||c||^2) with gamma ~ dim*eps;
            # on da it is <= min(sqrt(E), E/(2*dmin)) (the sqrt form
            # covers dmin -> 0). Widening only adds exact recomputes —
            # the margin selects CANDIDATES, the difference-form
            # recompute below still decides.
            eps = np.finfo(np.float64).eps
            E = 2.0 * dim * eps * ((M**2).sum(axis=1) + c_sq.max())
            fp_err = np.minimum(
                np.sqrt(E), E / (2.0 * np.maximum(dmin, 1e-300))
            )
            margin = 2 * 10.0**-quant + 2.0 * fp_err
            cand_r, cand_c = np.nonzero(da <= (dmin[:, None] + margin[:, None]))
            exact = np.round(
                np.sqrt(((M[cand_r] - Cq[cand_c]) ** 2).sum(axis=1)), quant
            )
            # per-row min of (rounded exact dist, cluster id): sort
            # candidates by (row, dist, cid) and keep each row's first —
            # rounded ties go to the LOWEST cluster id, as before
            order = np.lexsort((cand_c, exact, cand_r))
            _, first = np.unique(cand_r[order], return_index=True)
            win = order[first]
            return pd.DataFrame(
                {
                    "cluster": cand_c[win].astype("int32"),
                    "dist": exact[win],
                }
            )

        return assign

    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    assigned = None
    for it in range(iterations):
        u = assign_with(cents)
        assigned = base.select(
            id_col, "__v", u(F.col("__v")).alias("__a")
        ).select(
            id_col,
            "__v",
            F.col("__a.cluster").alias("cluster"),
            F.col("__a.dist").alias("dist"),
        )
        if it == iterations - 1:
            break
        # elementwise centroid means: posexplode -> ONE partial-
        # aggregated shuffle keyed (cluster, dim-index). The exchange
        # carries <= k x dim rows per map task after the combine and
        # k x dim rows reach the driver — the same single-shuffle shape
        # as unrolling one avg() column per dimension, but it doesn't
        # build a dim-wide agg list (untenable at dim 1536)
        rows = (
            assigned.select("cluster", F.posexplode("__v").alias("__i", "__x"))
            .groupBy("cluster", "__i")
            .agg(F.round(F.avg("__x"), quant).alias("m"))
            .collect()
        )
        # clusters that captured no rows keep their previous centroid
        for r in rows:
            cents[r["cluster"], r["__i"]] = r["m"]
        cents = np.round(cents, quant)
    return assigned.select(id_col, "cluster", "dist")


def _cell_assign_udf(centroids: np.ndarray, n: int):
    """Arrow-vectorized nearest-centroid assignment: each batch of vectors
    is one numpy matmul against the (tiny, closure-captured) centroid
    matrix. Returns the top-n cell ids by cosine, ties broken by ascending
    cell id (stable argsort). This replaces a join-against-centroids +
    window-topk plan — per-row work is a narrow projection with NO shuffle,
    which is the posture that matters when the corpus is 100 TB and the
    centroid table is kilobytes."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ Cn.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32") for row in top])

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: assign corpus rows to their nearest centroid
    cell (vectorized pandas UDF, narrow pass — at scale this column is
    precomputed and used as the partition key); each query probes its
    nprobe nearest cells only. Returns (query_id, vec_id, sim, rank)."""
    assign1 = _cell_assign_udf(centroids, 1)
    assign_n = _cell_assign_udf(centroids, nprobe)
    c_cells = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell_id"),
    )
    q_cells = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(assign_n(F.col(vec_col))).alias("probe_cell"),
    )
    scored = (
        c_cells.join(
            F.broadcast(q_cells), F.col("cell_id") == F.col("probe_cell")
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "sim",
            cosine(
                F.col("cvec").cast("array<double>"), F.col("qvec").cast("array<double>")
            ),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank")
    )


def cosine_threshold_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nblocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold. Returns (id_a, id_b, sim) with
    id_a < id_b.

    Distributed block-matrix product. Rows hash into `nblocks` blocks; the
    upper triangle of block pairs (B*(B+1)/2 tasks) is cogrouped and each
    task does ONE numpy matmul between its two blocks. Nothing is collected
    to the driver and no size probe runs, so the same plan works at every
    corpus size; shuffle volume is ~B/2 copies of the corpus, compute is
    the honest O(n^2) of an exact all-pairs op spread over B*(B+1)/2
    independent tasks. ``nblocks`` defaults to ceil(sqrt(2 * cores)), cores
    being the session's default parallelism, so every core gets a tile.
    (Exact all-pairs is inherently quadratic — beyond ~10^7 rows take
    candidates from `lsh_near_dup_pairs` or IVF cells and keep this as
    the within-bucket verify.)
    """
    spark = corpus.sparkSession
    if nblocks is None:
        nblocks = math.ceil(math.sqrt(2 * spark.sparkContext.defaultParallelism))
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(nblocks)).alias("blk"),
    )
    bi, bj = zip(*[(i, j) for i in range(nblocks) for j in range(i, nblocks)])
    tiles = {"bi": list(bi), "bj": list(bj)}
    # Each block's rows are replicated to every tile it participates in via
    # a broadcast join against the (tiny, local) tile list, then cogrouped
    # by tile. Two distinct tile DataFrames sidestep self-join column
    # ambiguity.
    tiles_l = local_frame(spark, tiles, "bi int, bj int")
    tiles_r = local_frame(spark, tiles, "bi int, bj int")
    left = base.join(F.broadcast(tiles_l), base.blk == tiles_l.bi).select(
        "bi", "bj", F.col("id").alias("id_a"), F.col("v").alias("va")
    )
    right = base.join(F.broadcast(tiles_r), base.blk == tiles_r.bj).select(
        "bi", "bj", F.col("id").alias("id_b"), F.col("v").alias("vb")
    )

    def tile_matmul(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        bi, bj = key
        A = np.stack(lpdf["va"].map(np.asarray).to_numpy()).astype(np.float64)
        B = np.stack(rpdf["vb"].map(np.asarray).to_numpy()).astype(np.float64)
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
        sims = An @ Bn.T
        aid = lpdf["id_a"].to_numpy()
        bid = rpdf["id_b"].to_numpy()
        hit = sims >= threshold
        if bi == bj:
            # diagonal tile holds both orientations of every in-block pair;
            # keep the canonical one
            hit &= aid[:, None] < bid[None, :]
        ii, jj = np.nonzero(hit)
        a, b = aid[ii], bid[jj]
        # off-diagonal tiles see each cross-block pair exactly once but in
        # arbitrary id order — canonicalize to id_a < id_b
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "sim": np.round(sims[ii, jj], 6)}
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(tile_matmul, "id_a long, id_b long, sim double")
    )


def _lsh_params(
    n: int | None,
    threshold: float,
    miss_prob: float = 1e-9,
    planes_per_band: int | None = None,
) -> tuple[int, int]:
    """(r, b) for banded hyperplane LSH: r = max(8, ceil(log2 n)) keeps
    expected per-band bucket occupancy ~flat as the corpus grows (the
    fix for the sf1.0 quadratic — fixed r means bucket count is fixed
    and within-bucket pairs grow as (n/2^r)^2); b then restores the
    per-pair candidate probability at the THRESHOLD to >= 1-miss_prob
    via b = ceil(ln(miss_prob)/ln(1-p^r)), p = 1 - arccos(t)/pi.
    Tighter-than-threshold pairs collide with even higher probability,
    so this bounds the whole recall curve above the threshold.

    The band count is capped at 512 (shuffle volume is b copies of
    (id, sig); an uncapped b would let low thresholds or huge corpora
    demand tens of thousands of bands). When the cap binds, the
    requested miss_prob is NOT achievable at this (r, cap) and the
    function WARNS with the achieved per-pair miss probability at the
    threshold instead of silently degrading. It deliberately does NOT
    auto-shrink r to restore the bound: each plane removed doubles
    expected within-bucket candidate pairs (buckets halve), so closing
    a sub-percent miss gap can cost ~2^Δ more candidate-verify work —
    a trade the caller must opt into (pass a smaller planes_per_band,
    a larger miss_prob, or explicit bands)."""
    if planes_per_band is None:
        planes_per_band = max(8, int(np.ceil(np.log2(max(n, 2)))))
    p = 1.0 - np.arccos(np.clip(threshold, -1.0, 1.0)) / np.pi
    p_band = p**planes_per_band
    required = int(max(1, np.ceil(
        np.log(miss_prob) / np.log(1.0 - min(p_band, 1 - 1e-15)))))
    bands = min(required, 512)
    if required > bands:
        achieved = float((1.0 - p_band) ** bands)
        warnings.warn(
            f"banded-LSH recall bound not achievable within the 512-band "
            f"cap: threshold={threshold} with r={planes_per_band} planes "
            f"per band needs {required} bands for per-pair miss "
            f"<= {miss_prob:g}, capped at {bands} -> achieved per-pair "
            f"miss at the threshold ~= {achieved:.3g} (tighter pairs "
            f"miss less). To restore the bound pass a smaller "
            f"planes_per_band (each plane removed halves the bucket "
            f"count, ~doubling candidate-verify work), a larger "
            f"miss_prob, or explicit bands.",
            stacklevel=2,
        )
    return planes_per_band, bands


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    bands: int | None = None,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    miss_prob: float = 1e-9,
) -> DataFrame:
    """Banded hyperplane-LSH near-duplicate pairs: candidates from b
    independent bands of r sign bits each (a pair collides if ANY band's
    r bits all agree — collision prob 1-(1-(1-θ/π)^r)^b, so recall at
    high cosine is driven toward 1 by adding bands), then EXACT cosine
    verify >= threshold inside the candidate set.

    PARAMETERS SCALE WITH N (r10 — the sf1.0 bench caught the fixed
    (8 bands x 8 planes) default going quadratic: 256 buckets per band
    means within-bucket pair counts grow as (N/256)^2, 2.1s -> 82s at
    10x on clustered embeddings). When unset, r = max(8, ceil(log2 N))
    keeps expected bucket occupancy roughly flat as the corpus grows,
    and b = ceil(ln(miss_prob)/ln(1 - p^r)) with p = 1 - arccos(τ)/π
    restores per-pair recall ≥ 1-miss_prob AT the threshold (tighter
    pairs are found with even higher probability) — the standard
    (r, b) trade of the LSH literature. Sizing costs one count().

    The candidate pairs are deduped as BARE ID PAIRS before the vectors
    are fetched back by id — a pair colliding in k bands shuffles k
    16-byte rows, not k copies of two dim-double payloads (the other
    half of the sf1.0 regression).

    This is the 100 TB default for near-dup detection: the self-join is
    on (band, bucket) keys — shuffle volume is b copies of (id, sig),
    candidate verify touches only colliding pairs (contrast
    cosine_threshold_pairs, whose block product scores all n^2 pairs),
    and nothing ever collects or broadcasts the corpus. Deterministic
    seeded planes, so results are reproducible run to run."""
    if planes_per_band is None:
        planes_per_band, auto_bands = _lsh_params(
            corpus.count(), threshold, miss_prob
        )
        if bands is None:
            bands = auto_bands
    elif bands is None:
        bands = _lsh_params(
            None, threshold, miss_prob, planes_per_band=planes_per_band
        )[1]
    rng = np.random.RandomState(7)
    # all b*r hyperplanes as ONE (dim, b*r) matrix: signatures for an
    # Arrow batch are a single numpy matmul + sign + per-band bit-pack,
    # instead of b*r Catalyst HOF array traversals per row (measured
    # ~10x on the 16x8 default)
    P = rng.randn(bands * planes_per_band, dim).T  # (dim, b*r)
    weights = (1 << np.arange(planes_per_band)).astype(np.int64)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def band_buckets(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (M @ P >= 0).reshape(len(M), bands, planes_per_band)
        sigs = (bits * weights).sum(axis=2)  # (n, bands)
        return pd.Series(
            [
                [f"{bi}_{s}" for bi, s in enumerate(row)]
                for row in sigs
            ]
        )

    vec = F.col(vec_col).cast("array<double>")
    vecs = corpus.select(F.col(id_col).alias("id"), vec.alias("v"))
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(band_buckets(vec)).alias("bucket"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        # a pair colliding in k bands appears k times; dedup the BARE id
        # pairs (16 bytes each) before fetching vectors, so the exchange
        # never carries duplicated dim-double payloads
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vecs.select(F.col("id").alias("__ia"), F.col("v").alias("va"))
    vb = vecs.select(F.col("id").alias("__ib"), F.col("v").alias("vb"))
    cands = (
        pairs.join(va, F.col("id_a") == F.col("__ia")).drop("__ia")
        .join(vb, F.col("id_b") == F.col("__ib")).drop("__ib")
    )
    return (
        cands.withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


# --- product quantization (IVF-free ADC + exact re-rank) -----------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    sample_limit: int = 10000,
    iterations: int = 8,
) -> np.ndarray:
    """Product-quantization codebooks: the vector space splits into m
    equal subspaces, each with its own ksub-centroid L2 k-means codebook
    — [m, ksub, d/m]. Driver-side numpy on a bounded sample (O(1) in
    corpus size, the same posture as train_centroids). A 100 TB corpus
    compresses to m bytes per vector (ksub<=256), which is what makes
    exhaustive ADC scans affordable at scale."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_limit).collect()],
        dtype=np.float64,
    )
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cents = sub[:: max(1, len(sub) // ksub)][:ksub].copy()
        for _ in range(iterations):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for ci in range(len(cents)):
                members = sub[assign == ci]
                if len(members):
                    cents[ci] = members.mean(axis=0)
        books[j] = cents
    return books


def _partial_topk_gen(qids, shortlist, score_name, scorer):
    """mapInPandas generator factory: per PARTITION, stream batches
    through `scorer(pdf) -> (ids[n], scores[Q, n])`, keep a running
    per-query top-`shortlist` (score desc, vec_id asc tie-break —
    identical to the downstream merge window, so partial-then-merge is
    bit-equal to a global sort), and emit ONE Q x shortlist frame when
    the partition is exhausted. The Q x N cross product never leaves the
    task: the exchange downstream sees <= Q x shortlist x partitions
    rows instead of Q x corpus. Self-matches (vec_id == query_id) are
    masked before selection."""
    S = shortlist

    def gen(batches):
        best_s = None  # [Q, S] running scores, -inf padded
        best_i = None  # [Q, S] running vec_ids
        for pdf in batches:
            ids, scores = scorer(pdf)
            if best_s is None:
                nq = scores.shape[0]
                best_s = np.full((nq, S), -np.inf)
                best_i = np.full((nq, S), np.iinfo(np.int64).max, dtype=np.int64)
            scores[ids[None, :] == qids[:, None]] = -np.inf
            cand_s = np.concatenate([best_s, scores], axis=1)
            cand_i = np.concatenate(
                [best_i, np.broadcast_to(ids, scores.shape)], axis=1
            )
            order = np.lexsort((cand_i, -cand_s), axis=-1)[:, :S]
            best_s = np.take_along_axis(cand_s, order, axis=1)
            best_i = np.take_along_axis(cand_i, order, axis=1)
        if best_s is not None:
            keep = np.isfinite(best_s.ravel())
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, S)[keep],
                    "vec_id": best_i.ravel()[keep],
                    score_name: best_s.ravel()[keep],
                }
            )

    return gen


def pq_partial_scores(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """ADC scoring pass of pq_topk, emitting per-partition partial
    top-`shortlist` candidates per query — (query_id, vec_id, adc),
    <= queries x shortlist rows per corpus partition (never Q x N)."""
    from pyspark.sql import types as T

    B = np.asarray(codebooks, dtype=np.float64)  # [m, ksub, dsub]
    m, ksub, dsub = B.shape
    # the query side is broadcast as a driver-built LUT, so it must be
    # small — probe with a bounded limit (graph.py's pattern) and raise
    # rather than silently collecting an unbounded caller DataFrame
    qrows = queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_topk query side exceeds max_queries={max_queries}; "
            "ADC builds a driver-side per-query LUT — batch the queries "
            "(or raise max_queries explicitly if the driver has room)"
        )
    qids = np.array([r[0] for r in qrows])
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # LUT[q, j, c] = dot(query_j_subvector, codebook_j_centroid_c)
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), m, dsub), B)
    # ||centroid||^2 per subspace, for the matmul-expanded encode below
    b_sq = (B**2).sum(axis=2)  # [m, ksub]

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def scorer(pdf):
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        # encode: per subspace, nearest codebook centroid (L2) via the
        # matmul expansion argmin(||s||^2 - 2 s.c + ||c||^2) — the ||s||^2
        # term is constant per row, so only a [batch, ksub] temp, never
        # the [batch, ksub, dsub] 3-D difference tensor
        codes = np.empty((len(V), m), dtype=np.int64)
        for j in range(m):
            sub = V[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = np.argmin(b_sq[j][None, :] - 2.0 * (sub @ B[j].T), axis=1)
        # ADC: scores[q, row] = sum_j LUT[q, j, codes[row, j]]
        scores = lut[:, np.arange(m)[None, :], codes].sum(axis=2)
        return pdf[id_col].to_numpy(), scores

    return corpus.select(id_col, vec_col).mapInPandas(
        _partial_topk_gen(qids, shortlist, "adc", scorer), out_schema
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """PQ approximate top-k with exact re-rank: corpus vectors encode to
    m-byte codes (narrow Arrow pass), every query scores ALL codes by
    asymmetric distance computation (per-batch numpy: one LUT of
    query-subvector x codebook dot products, then a table lookup), the
    per-query `shortlist` best candidates re-rank with exact cosine.
    Returns (query_id, vec_id, sim, rank) with EXACT sims, so recall
    failures are visible as missing ids, never as drifted scores.

    Scale: the ADC pass reads codes (m bytes/vector), not vectors, and
    keeps the per-query top-shortlist INSIDE each task (streaming
    partial top-k across Arrow batches) — the merge exchange carries
    <= queries x shortlist x partitions rows, never the Q x N cross
    product; only shortlist x queries vectors are touched for the
    re-rank."""
    adc = pq_partial_scores(
        corpus, queries, codebooks, shortlist, id_col, vec_col,
        query_id_col, max_queries,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id").asc()
    )
    short = (
        adc.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "vec_id")
    )
    # exact re-rank of the shortlist
    qs = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    rer = (
        short.join(c, "vec_id")
        .join(F.broadcast(qs), "query_id")
        .withColumn(
            "sim",
            cosine(
                F.col("cvec").cast("array<double>"),
                F.col("qvec").cast("array<double>"),
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank")
    )


def sq8_train(corpus: DataFrame, vec_col: str = "embedding") -> tuple:
    """Per-dimension (min, max) quantization bounds for SQ8 — ONE
    distributed aggregate keyed by dim-index (posexplode + map-side
    partials, so the exchange carries <= dim rows per map task — no
    2 x dim-wide agg list, which is untenable at dim 1536); dim rows of
    (lo, hi) doubles reach the driver, nothing corpus-sized."""
    first = corpus.select(vec_col).first()
    dim = len(first[0])
    rows = (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("__i", "__x"))
        .groupBy("__i")
        .agg(F.min("__x").alias("lo"), F.max("__x").alias("hi"))
        .collect()
    )
    lo = np.empty(dim, dtype=np.float64)
    hi = np.empty(dim, dtype=np.float64)
    for r in rows:
        lo[r["__i"]] = r["lo"]
        hi[r["__i"]] = r["hi"]
    return lo, hi


def sq8_partial_scores(
    corpus: DataFrame,
    queries: DataFrame,
    bounds: tuple | None = None,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """Quantize-dequantize-score pass of sq8_topk, emitting
    per-partition partial top-`shortlist` candidates per query —
    (query_id, vec_id, approx), <= queries x shortlist rows per corpus
    partition (never Q x N)."""
    from pyspark.sql import types as T

    if bounds is None:
        bounds = sq8_train(corpus, vec_col)
    lo, hi = np.asarray(bounds[0], float), np.asarray(bounds[1], float)
    scale = np.maximum(hi - lo, 1e-12) / 255.0

    qrows = queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"sq8_topk query side exceeds max_queries={max_queries}; "
            "queries broadcast into the scoring batches — batch them"
        )
    qids = np.array([r[0] for r in qrows])
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("approx", T.DoubleType()),
        ]
    )

    def scorer(pdf):
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        codes = np.clip(
            np.round((V - lo) / scale), 0, 255
        ).astype(np.uint8)  # the stored representation: 1 byte/dim
        deq = codes.astype(np.float64) * scale + lo
        deq = deq / np.maximum(
            np.linalg.norm(deq, axis=1, keepdims=True), 1e-12
        )
        return pdf[id_col].to_numpy(), Q @ deq.T

    return corpus.select(id_col, vec_col).mapInPandas(
        _partial_topk_gen(qids, shortlist, "approx", scorer), out_schema
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bounds: tuple | None = None,
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """Scalar-quantization (SQ8) approximate top-k with exact re-rank:
    each corpus vector quantizes per-dimension to uint8 against global
    (min, max) bounds — 1 byte/dim, the middle ground between PQ's
    m bytes/vector and raw floats — and queries score the DEQUANTIZED
    vectors (one numpy matmul per Arrow batch). The per-query
    `shortlist` best candidates re-rank with exact cosine, so the
    output carries true similarities (pq_topk's contract: recall
    failures surface as missing ids, never drifted scores).

    Scale: the scoring pass reads dim bytes/vector; bounds are a single
    distributed min/max aggregate; the per-query top-shortlist stays
    INSIDE each task (streaming partial top-k across Arrow batches), so
    the merge exchange carries <= queries x shortlist x partitions rows,
    never Q x N; only shortlist x queries vectors are touched for the
    re-rank."""
    approx = sq8_partial_scores(
        corpus, queries, bounds, shortlist, id_col, vec_col,
        query_id_col, max_queries,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("vec_id").asc()
    )
    short = (
        approx.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "vec_id")
    )
    qs = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    rer = (
        short.join(c, "vec_id")
        .join(F.broadcast(qs), "query_id")
        .withColumn(
            "sim",
            cosine(
                F.col("cvec").cast("array<double>"),
                F.col("qvec").cast("array<double>"),
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 3,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 6,
    max_cluster_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — k-means clusters the space,
    then ONLY within-cluster pairs are compared, and a vector is dropped
    when a lower-id cluster-mate sits above the cosine threshold
    (deterministic keep-first stand-in for the paper's keep rule).
    Returns every vector: (id, cluster, keep, dup_of) with dup_of the
    smallest witnessing keeper-candidate id (null when kept).

    Why this exists at 100 TB: all-pairs cosine is quadratic in the
    corpus; SemDeDup confines the quadratic step to a cluster. Scale k
    with the corpus (the paper uses ~100k clusters for LAION-scale) so
    cluster sizes stay bounded; the clustering itself is the
    distributed, quantized kmeans_assign above (engine-independent
    trajectory), so the WHOLE operator is a pure function of the data.
    The within-cluster join shuffles on cluster id — one shuffle, skew
    bounded by the largest cluster.

    ``max_cluster_size`` (r9 skew guard): clusters larger than this are
    RE-CLUSTERED with a second k-means level (the paper's own remedy
    for hot clusters), then any (cluster, subcluster) group STILL above
    the cap is rank-chunked — rows ordered by (first component, id) and
    cut every max_cluster_size rows — so the cap is a hard guarantee,
    not a hope that the second clustering balances (it doesn't when the
    hot cluster is one tight blob, and NO geometric method separates
    exactly identical vectors). The quadratic step runs within
    (cluster, sub, chunk) groups. Tradeoff (as in the paper): near-dups
    split across subclusters/chunks of the same hot cluster are no
    longer compared; the sort keeps near-identical vectors adjacent so
    chunk boundaries cut few of them. ``stats`` (optional dict) records
    n_oversized_clusters / subclusters / max_group for observability."""
    assign = kmeans_assign(
        corpus, k=k, iterations=iterations, vec_col=vec_col,
        id_col=id_col, quant=quant,
    ).select(id_col, "cluster")
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).join(assign, id_col)

    group_cols = ["cluster"]
    if max_cluster_size is not None:
        import math as _math

        sizes = vecs.groupBy("cluster").count()
        big = sorted(
            r["cluster"]
            for r in sizes.filter(F.col("count") > max_cluster_size).collect()
        )
        if stats is not None:
            stats["n_oversized_clusters"] = len(big)
        if big:
            over = corpus.join(
                vecs.filter(F.col("cluster").isin(big)).select(id_col), id_col
            )
            n_over = over.count()
            # target ~half the cap per subcluster so the INTERSECTION
            # (cluster, sub) stays under it even with imbalance
            k2 = max(2, _math.ceil(2 * n_over / max_cluster_size))
            sub = kmeans_assign(
                over, k=k2, iterations=iterations, vec_col=vec_col,
                id_col=id_col, quant=quant,
            ).select(id_col, F.col("cluster").alias("__sub"))
            vecs = vecs.join(sub, id_col, "left").withColumn(
                "__sub", F.coalesce(F.col("__sub"), F.lit(-1))
            )
            # hard cap: rank-chunk inside each (cluster, sub) group —
            # non-oversized groups (<= cap by construction) always land
            # in chunk 0, so only hot groups pay the extra exchange
            wch = Window.partitionBy("cluster", "__sub").orderBy(
                F.col("__v")[0].asc(), F.col(id_col).asc()
            )
            vecs = vecs.withColumn(
                "__chunk",
                ((F.row_number().over(wch) - 1) / max_cluster_size).cast("int"),
            )
            group_cols = ["cluster", "__sub", "__chunk"]
            if stats is not None:
                stats["n_subclusters"] = k2
                stats["max_group"] = (
                    vecs.groupBy(*group_cols).count().agg(F.max("count")).first()[0]
                )
        elif stats is not None:
            stats["max_group"] = sizes.agg(F.max("count")).first()[0]

    # per-cluster pairwise cosine as ONE numpy matmul per group (the
    # quadratic step, confined to a cluster): vastly cheaper than a
    # per-pair expression-evaluated join; ids sort ascending inside the
    # group so "smallest witnessing id" is the first hit in row order
    out_schema = (
        f"{id_col} long, cluster int, keep boolean, dup_of long"
    )

    def cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["__v"].to_numpy())[order].astype(np.float64)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = np.round(Mn @ Mn.T, quant)
        hit = S >= threshold
        n = len(ids)
        dup_of = np.full(n, -1, dtype=np.int64)
        for i in range(1, n):
            js = np.nonzero(hit[i, :i])[0]
            if len(js):
                dup_of[i] = ids[js[0]]
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": np.full(n, int(pdf["cluster"].iloc[0]), dtype="int32"),
                "keep": dup_of < 0,
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of], dtype="Int64"
                ),
            }
        )

    return vecs.groupBy(*group_cols).applyInPandas(cluster_dedup, out_schema)


class IncrementalVectorIndex(ReplayIndex):
    """IVF vector index maintained incrementally from tx batches — the
    similarity-search sibling of IncrementalTextIndex (the reference's
    secondary-index replay seam, crux-lucene via crux-core/src/crux/tx.clj
    register-index!; the reference itself has no vector index — this is
    part of the pipeline-operator extension family).

    State is ONE DataFrame (eid, vec, cell_id): each put's embedding is
    assigned to its nearest centroid cell map-side (Arrow pandas UDF) and
    merged by entity under the replay rule of bitemporal/replay.py (only
    each entity's final effective op per batch lands). Search probes the
    query's `nprobe` nearest cells only — with the index saved
    partitioned by cell_id, a probe is a partition-pruned scan at any
    corpus size; probing ALL cells makes results exactly equal to brute
    force (the test oracle).

    Checkpointable through CheckpointStore's `indexes=` seam: `save()`
    writes cells parquet (partitioned by cell_id) + centroids + the
    indexed-tx watermark; a restored index replays only the WAL tail
    past its watermark.
    """

    STATE = {"cells": "cell_id"}
    PARAMS = ("vec_field", "centroids")

    def __init__(self, spark, centroids: np.ndarray, vec_field: str = "embedding"):
        super().__init__(spark)
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.vec_field = vec_field

    def listener(self, epoch_id: int, ops_batch: DataFrame,
                 max_tx: int | None = None) -> None:
        self._replay(ops_batch, self.vec_field, max_tx)

    def _apply(self, touched: DataFrame, puts: DataFrame) -> None:
        vecs = puts.select(
            "eid", F.from_json("value", "array<double>").alias("vec")
        ).filter(F.col("vec").isNotNull())
        assign1 = _cell_assign_udf(self.centroids, 1)
        new_cells = vecs.select(
            "eid", "vec", F.element_at(assign1(F.col("vec")), 1).alias("cell_id")
        )
        self._merge("cells", touched, new_cells, self._eager())

    def search(self, query_vec, k: int = 5, nprobe: int = 4) -> DataFrame:
        """Top-k nearest entities by cosine. The single query vector is
        assigned to its nprobe nearest cells DRIVER-side (the centroid
        matrix is k_cells x dim, driver-resident by design); the scan
        then touches only those cells."""
        if self.cells is None:
            raise ValueError("index empty: no batches ingested yet")
        q = np.asarray(query_vec, dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-12)
        C = self.centroids / np.maximum(
            np.linalg.norm(self.centroids, axis=1, keepdims=True), 1e-12
        )
        order = np.argsort(-(C @ qn), kind="stable")
        probes = [int(c) for c in order[: max(1, nprobe)]]
        qlit = F.array(*[F.lit(float(x)) for x in q])
        return (
            self.cells.filter(F.col("cell_id").isin(probes))
            .select(
                "eid",
                F.round(
                    cosine(F.col("vec").cast("array<double>"), qlit), 6
                ).alias("sim"),
            )
            .orderBy(F.col("sim").desc(), F.col("eid").asc())
            .limit(k)
        )

    @property
    def n_cells(self) -> int:
        return int(self.centroids.shape[0])
