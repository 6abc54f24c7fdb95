"""Full-text search: tokenized inverted index + TF-IDF relevance join.

The reference plugs Lucene in as Datalog predicates ``text-search`` /
``wildcard-text-search`` returning scored ``[e v score]`` relations
(crux-lucene/src/crux/lucene.clj:146-188), maintained by replaying the tx
log (SURVEY.md §2.10). The Spark recast: the inverted index IS a DataFrame
— (term, eid, tf) + a doc-frequency table — derived from the snapshot and
kept fresh by the same streaming foreachBatch that maintains the documents
table. Scoring is the standard tf-idf dot product, computed as a join +
groupBy (two shuffles on term/eid, both broadcast-able for small query
term sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crux_spark._localframe import local_frame


def _tokenize(col):
    return F.split(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", " "), r"\s+")


def build_text_index(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, int]:
    """Returns (postings, doc_freq, n_docs): postings (term, eid, tf);
    doc_freq (term, df). Persist both as parquet partitioned/bucketed by
    term at scale."""
    toks = df.select(
        F.col(id_col).alias("eid"), F.explode(_tokenize(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    postings = toks.groupBy("term", "eid").agg(F.count("*").alias("tf"))
    doc_freq = postings.groupBy("term").agg(F.count_distinct("eid").alias("df"))
    n_docs = df.count()
    return postings, doc_freq, n_docs


def text_search(
    postings: DataFrame,
    doc_freq: DataFrame,
    n_docs: int,
    query: str,
    limit: int | None = None,
) -> DataFrame:
    """Score documents for a free-text query: sum over query terms of
    tf * ln(1 + N/df). Returns (eid, score) descending — the analogue of
    the reference's scored Lucene relation (lucene.clj:146-188)."""
    spark = postings.sparkSession
    terms = [
        t
        for t in query.lower().replace(",", " ").split()
        if t
    ]
    qdf = local_frame(spark, {"term": sorted(set(terms))}, "term string")
    scored = (
        postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(doc_freq), "term")
        .withColumn("w", F.col("tf") * F.log(1.0 + F.lit(float(n_docs)) / F.col("df")))
        .groupBy("eid")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("eid").asc())
    )
    return scored.limit(limit) if limit else scored


def bm25_search(
    postings: DataFrame,
    doc_freq: DataFrame,
    n_docs: int,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    limit: int | None = None,
) -> DataFrame:
    """Okapi BM25 ranking over the same inverted index:
    idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)). Document length is
    derived from the postings themselves (sum tf per doc) so no extra
    state is needed."""
    spark = postings.sparkSession
    terms = [t for t in query.lower().replace(",", " ").split() if t]
    qdf = local_frame(spark, {"term": sorted(set(terms))}, "term string")
    dl = postings.groupBy("eid").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(doc_freq), "term")
        .join(dl, "eid")
        .join(F.broadcast(avgdl))
        .withColumn("w", idf * (F.col("tf") * (k1 + 1.0)) / denom)
        .groupBy("eid")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("eid").asc())
    )
    return scored.limit(limit) if limit else scored


class IncrementalTextIndex:
    """Inverted index maintained incrementally from tx batches — the
    secondary-index registration pattern of the reference
    (`register-index!` crux-core/src/crux/tx.clj:400-410: external indexes
    replay the log and stay current per indexed tx). Attach
    :meth:`listener` to a TxLogStream; each batch's puts merge into the
    postings (delete = drop the entity's postings)."""

    def __init__(self, spark, text_field: str = "text",
                 checkpoint_every: int = 8):
        self.spark = spark
        self.text_field = text_field
        self.postings: DataFrame | None = None
        # highest tx id folded into the postings — the index's own
        # watermark, so a checkpoint-restored index replays only the WAL
        # tail past it (the reference checkpoints its Lucene dir beside
        # the KV index and tails the log from the indexed-tx watermark,
        # crux-lucene + crux-core/src/crux/checkpoint.clj)
        self.last_tx_id: int = -1
        # Lineage bound, same contract as IncrementalMinHashIndex:
        # per-batch merges chain LAZY localCheckpoints (plan truncation
        # without a synchronous job per batch); every
        # `checkpoint_every`-th batch materializes eagerly, resetting
        # lazy-chain depth to O(1). <=0 disables the cadence.
        self.checkpoint_every = checkpoint_every
        self._batches_since_eager = 0

    def listener(self, epoch_id: int, ops_batch: DataFrame,
                 max_tx: int | None = None) -> None:
        # CONTRACT: state merges chain LAZY localCheckpoints, so
        # `ops_batch` must stay recomputable until `checkpoint_every`
        # batches later (TxLogStream pins each batch to executor blocks
        # before dispatch; direct callers must pass a re-readable frame
        # or set checkpoint_every=1).
        # a micro-batch can carry several txs touching the SAME entity
        # (availableNow batches everything pending): only each entity's
        # FINAL effective op (by tx order) may index, or a put+put batch
        # double-counts tf and a put-then-delete batch resurrects the put
        eff = ops_batch.filter(F.col("op").isin("put", "delete", "evict"))
        last = eff.groupBy("eid").agg(
            F.max_by(
                F.struct("op", "doc_json"), F.struct("tx_id", "seq")
            ).alias("last")
        )
        puts = (
            last.filter(F.col("last.op") == "put")
            .select(
                "eid",
                F.get_json_object(
                    "last.doc_json", f"$.{self.text_field}"
                ).alias("body"),
            )
            .filter(F.col("body").isNotNull())
        )
        # postings construction inlined from build_text_index WITHOUT its
        # n_docs count(): the listener never uses doc_freq/n_docs, and the
        # count was an eager full-batch scan per micro-batch
        toks = puts.select(
            "eid", F.explode(_tokenize(F.col("body"))).alias("term")
        ).filter(F.length("term") > 0)
        new_postings = toks.groupBy("term", "eid").agg(
            F.count("*").alias("tf")
        )
        # every touched eid drops its old postings — including a put whose
        # new doc version no longer carries the text field
        touched = last.select("eid")
        if self.postings is None:
            merged = new_postings
        else:
            kept = self.postings.join(touched, "eid", "left_anti")
            merged = kept.unionByName(new_postings)
        self._batches_since_eager += 1
        eager = (self.checkpoint_every > 0
                 and self._batches_since_eager >= self.checkpoint_every)
        if eager:
            self._batches_since_eager = 0
        self.postings = merged.localCheckpoint(eager=eager)
        # `max_tx` lets the commit/ingest path hand down the batch max it
        # already knows; without it the watermark costs an extra pass.
        if max_tx is None:
            mx = ops_batch.agg(F.max("tx_id")).first()[0]
            max_tx = int(mx) if mx is not None else None
        if max_tx is not None:
            self.last_tx_id = max(self.last_tx_id, int(max_tx))

    # -- checkpoint persistence (crux-lucene checkpoints its index dir
    # through crux.checkpoint alongside the KV index; here the postings
    # table IS the index, so a checkpoint = postings parquet + watermark) --
    def save(self, path: str) -> None:
        """Persist the index under `path`: postings as parquet plus a
        meta sidecar carrying the text field and indexed-tx watermark."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        if self.postings is not None:
            self.postings.write.mode("overwrite").parquet(
                os.path.join(path, "postings")
            )
        with open(os.path.join(path, "index.json"), "w") as f:
            json.dump(
                {"text_field": self.text_field, "last_tx_id": self.last_tx_id},
                f,
            )

    @classmethod
    def load(cls, spark, path: str) -> "IncrementalTextIndex":
        """Restore an index saved with :meth:`save`; the caller (usually
        CheckpointStore.restore_latest) replays the WAL tail past
        `last_tx_id` through :meth:`listener`."""
        import json
        import os

        with open(os.path.join(path, "index.json")) as f:
            meta = json.load(f)
        idx = cls(spark, text_field=meta.get("text_field", "text"))
        idx.last_tx_id = int(meta.get("last_tx_id", -1))
        postings_dir = os.path.join(path, "postings")
        if os.path.isdir(postings_dir):
            # localCheckpoint to decouple from the checkpoint dir (same
            # as TxStore.load): retention pruning / cleanup() may delete
            # `path` while this index is live, and a lazily-bound scan
            # would then fail every search with FileNotFoundException.
            idx.postings = spark.read.parquet(postings_dir).localCheckpoint()
        return idx

    def search(self, query: str, limit: int | None = None) -> DataFrame:
        if self.postings is None:
            raise ValueError("index empty: no batches ingested yet")
        dfreq = self.postings.groupBy("term").agg(
            F.count_distinct("eid").alias("df")
        )
        n = self.postings.select("eid").distinct().count()
        return text_search(self.postings, dfreq, n, query, limit)


def build_av_text_index(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, int]:
    """A/V-preserving index for the Datalog predicates: postings
    (term, eid, v, tf) where v is the matched attribute VALUE — the
    reference's relations bind [e v score] (lucene.clj:146-188,
    resolve-search-results-a-v). Cardinality-many (array) attributes
    index each element as its own v (lucene_test.clj "cardinality
    many": (text-search :foo "atar") binds the matching element)."""
    from pyspark.sql import types as T

    col = F.col(text_col)
    if isinstance(df.schema[text_col].dataType, T.ArrayType):
        pairs = df.select(F.col(id_col).alias("eid"), F.explode(col).alias("v"))
    else:
        pairs = df.select(F.col(id_col).alias("eid"), col.alias("v"))
    pairs = pairs.filter(F.col("v").isNotNull()).withColumn(
        "v", F.col("v").cast("string")
    )
    toks = pairs.select(
        "eid", "v", F.explode(_tokenize(F.col("v"))).alias("term")
    ).filter(F.length("term") > 0)
    postings = toks.groupBy("term", "eid", "v").agg(F.count("*").alias("tf"))
    doc_freq = postings.groupBy("term").agg(F.count_distinct("eid").alias("df"))
    # Lazy on purpose: r15 measured both checkpoint and persist of the
    # postings net-slower (the synchronous cache build cost more than
    # the per-consumer recompute it saved).
    return postings, doc_freq, df.count()


def search_av(
    postings: DataFrame, doc_freq: DataFrame, n_docs: int, query: str
) -> DataFrame:
    """Scored (eid, v, score) relation over an A/V index. Lucene-ish
    semantics: whitespace-split terms OR together; plain terms score
    tf-idf; wildcard terms (``*`` = any run, ``?`` = one char) score a
    CONSTANT 1.0 per matching clause — Lucene rewrites wildcard queries
    to constant-score, which is why the reference's Scores test sees
    exactly 1.0 for ``ivan*`` hits (lucene_test.clj:82-92)."""
    import re as _re

    spark = postings.sparkSession
    terms = [t for t in query.lower().replace(",", " ").split() if t]
    plain = sorted({t for t in terms if "*" not in t and "?" not in t})
    wild = sorted({t for t in terms if "*" in t or "?" in t})
    parts: list[DataFrame] = []
    if plain:
        qdf = local_frame(spark, {"term": plain}, "term string")
        parts.append(
            postings.join(F.broadcast(qdf), "term")
            .join(F.broadcast(doc_freq), "term")
            .withColumn(
                "w", F.col("tf") * F.log(1.0 + F.lit(float(n_docs)) / F.col("df"))
            )
            .select("eid", "v", "w")
        )
    for w in wild:
        regex = "^" + _re.escape(w).replace(r"\*", ".*").replace(r"\?", ".") + "$"
        parts.append(
            postings.filter(F.col("term").rlike(regex))
            .select("eid", "v")
            .distinct()
            .withColumn("w", F.lit(1.0))
        )
    if not parts:
        return spark.createDataFrame([], "eid string, v string, score double")
    from functools import reduce as _reduce

    u = _reduce(lambda a, b: a.unionByName(b), parts)
    return (
        u.groupBy("eid", "v")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("eid").asc(), F.col("v").asc())
    )


def wildcard_text_search(
    postings: DataFrame,
    doc_freq: DataFrame,
    n_docs: int,
    pattern: str,
    limit: int | None = None,
) -> DataFrame:
    """Prefix/wildcard term match (lucene.clj wildcard variant): pattern
    like 'fore*' matches any term with that prefix."""
    regex = "^" + pattern.replace("*", ".*") + "$"
    matched = doc_freq.filter(F.col("term").rlike(regex))
    scored = (
        postings.join(F.broadcast(matched), "term")
        .withColumn("w", F.col("tf") * F.log(1.0 + F.lit(float(n_docs)) / F.col("df")))
        .groupBy("eid")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("eid").asc())
    )
    return scored.limit(limit) if limit else scored
