"""Distributed graph operators: connected components and dedup-cluster
resolution.

Near-duplicate detection produces PAIRS; an actual dedup pipeline needs
the transitive clusters those pairs imply (A~B, B~C puts A,C in one
cluster even if never compared) and one canonical survivor per cluster.
That is connected components over the similarity graph — the step
between candidate generation and the final keep-list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crux_spark._localframe import local_frame

# Edge sets up to this size resolve on the driver (see connected_components).
DRIVER_LIMIT_EDGES = 100_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) for every vertex in `pairs`, component = the
    minimum vertex id reachable through the undirected edge set.

    Each round combines min-label PROPAGATION over edges with POINTER
    JUMPING (label <- label of label), so label chains collapse
    logarithmically — the alternating-algorithm idea behind
    large-star/small-star CC: convergence in O(log diameter) rounds,
    not O(diameter), which is the property that matters when a 100 TB
    near-dup graph has million-node chains. Each round is two shuffles
    (edge join + jump join) over (id, lbl) pairs only.

    Small edge sets (<= DRIVER_LIMIT_EDGES, probed with a bounded
    limit) short-circuit to a driver-side union-find: the iterative
    path costs ~3 Spark jobs per round, which dwarfs the work when the
    similarity graph is thousands of pairs. Tests force the distributed
    path by setting the module constant to 0. The driver path returns
    its (long) labels as an Arrow-backed local frame, which collects
    with no job.

    ``stats``, if given, is filled with {'path': 'driver'|'distributed',
    'rounds': n} — diagnostic only (tools/scale_smoke.py asserts the
    round count stays log-bounded as the graph scales)."""
    probe = pairs.limit(DRIVER_LIMIT_EDGES + 1).collect()
    if len(probe) <= DRIVER_LIMIT_EDGES:
        if stats is not None:
            stats.update(path="driver", rounds=0)
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for r in probe:
            a, b = find(r[id_a]), find(r[id_b])
            if a != b:
                parent[max(a, b)] = min(a, b)
        ids = sorted({v for r in probe for v in (r[id_a], r[id_b])})
        return local_frame(
            pairs.sparkSession,
            {"id": ids, "component": [find(v) for v in ids]},
            "id long, component long",
        )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        if stats is not None:
            stats.update(path="distributed", rounds=it + 1)
        # min neighbor label per vertex
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        merged = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
            )
        )
        # pointer jumping: lbl <- lbl(lbl)
        jump = merged.select(
            F.col("id").alias("jid"), F.col("lbl").alias("jlbl")
        )
        pre = merged.join(jump, merged["lbl"] == jump["jid"], "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("jlbl", "lbl")).alias("lbl"),
        )
        new_labels = pre.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("id", F.col("lbl").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter}")


def dedup_keep_list(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Resolve near-dup pairs into (doc_id, keep_id): every clustered doc
    mapped to its cluster's canonical survivor (the minimum id). Docs
    not in any pair keep themselves and are not returned."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("keep_id")
    )


def canonical_by_quality(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup pairs into clusters and pick each cluster's
    BEST-QUALITY representative (highest quality, lowest id on ties) —
    the canonical-selection step training pipelines run after near-dup
    detection, where 'keep the first' would discard the cleanest copy.

    Returns (id_col, canonical_id, is_canonical) for every clustered
    doc; unpaired docs are their own canonicals and are not returned
    (same contract as dedup_keep_list). Scale shape: connected
    components (log-round) + one (component)-keyed max_by aggregation +
    a join-back of the winners relation with NO forced broadcast:
    winners is one row PER CLUSTER, which grows with the corpus (a
    100 TB near-dup graph can carry 10^8+ clusters), so an
    unconditional hint would bypass Spark's byte threshold and OOM the
    driver exactly when it matters. AQE converts the exchange to a
    broadcast join at runtime when the aggregated winners side is
    actually small — the byte-accurate version of the old hint."""
    cc = connected_components(pairs, id_a, id_b)
    member = cc.join(
        docs.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q")),
        "id",
    )
    winners = member.groupBy("component").agg(
        F.max_by(
            "id", F.struct(F.col("__q").alias("q"), (-F.col("id")).alias("nid"))
        ).alias("canonical_id")
    )
    return (
        member.join(winners, "component")
        .select(
            F.col("id").alias(id_col),
            "canonical_id",
            (F.col("id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )
