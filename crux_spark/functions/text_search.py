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
from crux_spark.bitemporal.replay import ReplayIndex


def _tokenize(col):
    return F.split(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", " "), r"\s+")


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, eid, tf) for every token of every document."""
    toks = df.select(
        F.col(id_col).alias("eid"), F.explode(_tokenize(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    return toks.groupBy("term", "eid").agg(F.count("*").alias("tf"))


def build_text_index(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, int]:
    """Returns (postings, doc_freq, n_docs): postings (term, eid, tf);
    doc_freq (term, df). Persist both as parquet partitioned/bucketed by
    term at scale."""
    postings = _postings(df, id_col, text_col)
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


class IncrementalTextIndex(ReplayIndex):
    """Inverted index maintained incrementally from tx batches — the
    secondary-index registration pattern of the reference
    (`register-index!` crux-core/src/crux/tx.clj:400-410: external indexes
    replay the log and stay current per indexed tx). Attach
    :meth:`listener` to a TxLogStream; each batch's final puts replace
    their entities' postings, and every other touched entity's postings
    drop (the replay seam, bitemporal/replay.py). A checkpoint is the
    postings parquet plus the text field and watermark."""

    STATE = {"postings": None}
    PARAMS = ("text_field",)

    def __init__(self, spark, text_field: str = "text"):
        super().__init__(spark)
        self.text_field = text_field

    def listener(self, epoch_id: int, ops_batch: DataFrame,
                 max_tx: int | None = None) -> None:
        self._replay(ops_batch, self.text_field, max_tx)

    def _apply(self, touched: DataFrame, puts: DataFrame) -> None:
        self._merge("postings", touched, _postings(puts, "eid", "value"),
                    self._eager())

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
