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


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_limit_edges: int = 100_000,
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

    Small edge sets (<= driver_limit_edges, probed with a bounded
    limit) short-circuit to a driver-side union-find: the iterative
    path costs ~3 Spark jobs per round, which dwarfs the work when the
    similarity graph is thousands of pairs. Pass driver_limit_edges=0
    to force the distributed path.

    ``stats``, if given, is filled with {'path': 'driver'|'distributed',
    'rounds': n} — diagnostic only (tools/scale_smoke.py asserts the
    round count stays log-bounded as the graph scales)."""
    from crux_spark.metrics import record_loop

    probe = pairs.limit(driver_limit_edges + 1).collect() if driver_limit_edges else None
    if probe is not None and len(probe) <= driver_limit_edges:
        if stats is not None:
            stats.update(path="driver", rounds=0)
        record_loop("connected_components", rounds=0, path="driver")
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
        rows = sorted({(v, find(v)) for r in probe for v in (r[id_a], r[id_b])})
        spark = pairs.sparkSession
        if not rows:
            return spark.createDataFrame([], "id long, component long")
        return spark.createDataFrame(rows, ["id", "component"])
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
        # loop-aware fingerprint: every round runs this same shape — record
        # round 1's static plan facts (the final frame's fingerprint shows
        # none of the per-round shuffles)
        record_loop(
            "connected_components",
            rounds=it + 1,
            round_df=pre if it == 0 else None,
            path="distributed",
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
