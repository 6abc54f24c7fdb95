"""Continuous ingest: Structured Streaming over the transaction log.

The reference's one real streaming job is the tx-ingester: every node
subscribes to the totally-ordered log and indexes each tx serially
(crux-core/src/crux/tx.clj:424-479; subscription crux-core/src/crux/
tx/subscribe.clj). The Spark recast (SURVEY.md §2.9):

    tx_log parquet dir (append-only)  --readStream-->  foreachBatch
        -> ops ordered by tx_id within the batch
        -> TxStore cogrouped splice apply (store.py)
        -> versions table advances; listeners notified

``await_tx`` (read-your-writes, api.clj:36-61) maps to
``processAllAvailable()``. Secondary-index registration (SURVEY.md §2.9 —
how Lucene plugs in) maps to extra listeners maintaining derived tables in
the same foreachBatch.

Kafka tx-log (crux-kafka/src/crux/kafka.clj — single-partition topic for
total order): implemented behind ``TxLogStream(source_format="kafka",
kafka_options={"kafka.bootstrap.servers": ...})`` — messages carry one tx
per record as the same JSON envelope the WAL writes, exploded into op
rows; everything downstream of ``_build_stream`` is transport-agnostic.
The sandbox has no broker, so tests cover ``reader_config()`` and the
parsing plan; the parquet-dir source is the default and carries the same
single-partition-total-order caveat the reference documents (kafka.clj
topic config: 1 partition for the tx topic).

StreamingNearDupDetector follows a document stream with an
IncrementalMinHashIndex. Its pair table holds the pairs of each id's
latest text: a batch's ids drop their stored pairs before the index's
fresh pairs for them are added, so no shuffle deduplicates the table.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crux_spark.bitemporal.splice import to_us
from crux_spark.bitemporal.store import OPS_SCHEMA, TxStore, _call_listener

# parquet schema for the on-disk tx log (one row per op; tx_id orders txs)
TX_LOG_SCHEMA = OPS_SCHEMA

# the columns Spark's kafka source exposes for every consumed record —
# the PUBLIC wire shape (Structured Streaming Kafka integration guide);
# a recorded-segment fixture with these columns exercises everything but
# the socket
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def parse_kafka_envelope(raw: DataFrame) -> DataFrame:
    """Kafka record batch/stream -> TX_LOG_SCHEMA op rows.

    Each record's value is one tx as the JSON WAL envelope
    {"tx_id": N, "rows": [op...]} (store.py submit_tx — same bytes the
    JSONL/sqlite transports persist; crux-kafka's tx-record analogue,
    kafka.clj). Contract pieces beyond the parse:

    - TOTAL ORDER: the tx topic has ONE partition (kafka.clj topic
      config), so offset order == tx order; downstream the cogrouped
      splice orders ops by (tx_id, seq) per entity, so envelope arrival
      order within a batch is immaterial as long as tx_id is faithful.
    - AT-LEAST-ONCE REDELIVERY: consumer restarts can re-deliver
      records; dedup on tx_id (redelivered records are byte-identical,
      so which copy survives is immaterial). dropDuplicates is the
      stream-legal stateful dedup.
    - Aborted txs write an empty rows array (the failed-tx-fn WAL
      entry): the explode yields no op rows, matching replay semantics.

    Works on a streaming OR batch DataFrame with KAFKA_WIRE_SCHEMA
    columns."""
    from pyspark.sql import types as T

    envelope = T.StructType(
        [
            T.StructField("tx_id", T.LongType()),
            T.StructField(
                "rows", T.ArrayType(T.StructType(TX_LOG_SCHEMA.fields))
            ),
        ]
    )
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), envelope).alias("tx")
        )
        .select(F.col("tx.tx_id").alias("__tx_id"), F.col("tx.rows").alias("__rows"))
        .dropDuplicates(["__tx_id"])
        .select(F.explode("__rows").alias("op"))
        .select("op.*")
    )


class TxLogStream:
    """Structured-Streaming tx ingester: tails an append-only parquet tx
    log directory into a TxStore, invoking listeners per indexed batch
    (the event-bus `listen` surface, crux-core/src/crux/bus.clj)."""

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str | None = None,
        store: TxStore | None = None,
        source_format: str = "parquet",
        kafka_options: dict | None = None,
    ):
        if source_format not in ("parquet", "kafka"):
            raise ValueError(f"unknown tx-log source_format {source_format!r}")
        if source_format == "parquet" and not log_dir:
            raise ValueError("parquet tx-log needs log_dir")
        self.spark = spark
        self.log_dir = log_dir
        self.store = store or TxStore(spark)
        self.source_format = source_format
        self.kafka_options = dict(kafka_options or {})
        self.listeners: list[Callable[[int, DataFrame], None]] = []
        self._query = None

    def reader_config(self) -> dict:
        """The (format, options) the stream reader is built with — exposed
        so the Kafka swap (crux-kafka/src/crux/kafka.clj) is *tested*
        config, not just a docstring, even where no broker exists.

        Kafka production posture mirrors the reference's topic config
        (kafka.clj: ONE partition on the tx topic — total order is the
        correctness anchor of the whole tx log): `subscribe` one topic,
        `startingOffsets=earliest` so a fresh node replays the full log,
        `failOnDataLoss=true` because a truncated tx log is corruption.
        """
        if self.source_format == "kafka":
            opts = {
                "subscribe": "crux-tx-log",
                "startingOffsets": "earliest",
                "failOnDataLoss": "true",
                **self.kafka_options,
            }
            if "kafka.bootstrap.servers" not in opts:
                raise ValueError(
                    "kafka tx-log needs kafka_options={'kafka.bootstrap."
                    "servers': 'host:9092', ...}"
                )
            return {"format": "kafka", "options": opts}
        return {"format": "parquet", "options": {"path": self.log_dir}}

    def _build_stream(self) -> DataFrame:
        """Streaming DataFrame of tx ops in TX_LOG_SCHEMA, whatever the
        transport. Kafka messages carry one tx per record as JSON
        {"tx_id": N, "rows": [op...]} — the same envelope the WAL writes
        (store.py submit_tx) — exploded into op rows."""
        cfg = self.reader_config()
        if cfg["format"] == "kafka":
            raw = (
                self.spark.readStream.format("kafka")
                .options(**cfg["options"])
                .load()
            )
            return parse_kafka_envelope(raw)
        return self.spark.readStream.schema(TX_LOG_SCHEMA).parquet(self.log_dir)

    def listen(self, fn: Callable[[int, DataFrame], None]) -> None:
        """Register a ::indexed-tx listener (api.clj:63-73); called with
        (epoch_id, ops_batch_df) after the batch is applied."""
        self.listeners.append(fn)

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Feed the micro-batch straight into apply_ops_df — no driver
        round-trip, so a batch far larger than driver memory is fine.
        Per-entity op ordering happens inside the splice (sorted by
        tx_id, seq within each entity group); its one probe job also
        yields the batch's max tx id, which is handed to every
        watermark-keeping listener so none re-aggregates the batch."""
        # Listener state chains LAZY localCheckpoints (cadenced eager) —
        # a deferred plan must stay recomputable PAST this micro-batch's
        # lifetime, which a streaming batch frame cannot promise (log
        # retention may prune the underlying files; a Kafka batch is not
        # re-fetchable at all). Pin the batch to executor blocks ONCE,
        # eagerly, before anything keeps a reference: every listener's
        # lazy chain then roots at checkpointed RDD blocks, and the
        # probe + splice below read those same blocks instead of
        # re-scanning the source (r15 advice, re-readability contract).
        if self.listeners:
            batch_df = batch_df.localCheckpoint()
        _, mx = self.store._apply_frame(batch_df)
        if mx is None:  # empty batch
            return
        for fn in self.listeners:
            _call_listener(fn, epoch_id, batch_df, mx)

    def start(self, checkpoint_dir: str):
        stream = self._build_stream()
        self._query = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        return self._query

    def await_tx(self) -> None:
        """Read-your-writes barrier (api.clj:36-61)."""
        if self._query is not None:
            self._query.processAllAvailable()


def write_tx_log(
    spark: SparkSession, log_dir: str, txs: list[tuple[int, list]], mode: str = "append"
) -> None:
    """Append transactions to the on-disk log: txs = [(tx_id, ops)] with
    ops in TxStore.submit_tx format."""
    rows = []
    for tx_id, ops in txs:
        tmp = TxStore(spark)
        tmp._tx_id = tx_id - 1
        tmp.submit_tx(ops)
        for r in tmp._pending:
            r["tx_id"] = tx_id
            rows.append(tuple(r.get(f.name) for f in TX_LOG_SCHEMA.fields))
    spark.createDataFrame(rows, TX_LOG_SCHEMA).coalesce(1).write.mode(mode).parquet(
        log_dir
    )


def stream_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    watermark: str = "1 hour",
    window: str = "1 day",
) -> DataFrame:
    """Windowed streaming aggregation with late-data handling over an event
    stream (the operator surface the reference lacks, SURVEY.md §2.9 — we
    provide it as a first-class op): per event_type counts/sums in
    event-time windows."""
    events = spark.readStream.schema(schema).parquet(source_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


def stream_sessionize(
    spark: SparkSession,
    source_dir: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization with native session windows
    (F.session_window): events gapped less than `gap` apart merge into
    one session per key; the watermark bounds state and emits closed
    sessions. The streaming sibling of the events_sessionize gate's
    batch lag()-based variant — state is managed by Spark's session
    window store, no custom stateful code."""
    events = spark.readStream.schema(schema).parquet(source_dir)
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.min(time_col).alias("started_at"),
            F.max(time_col).alias("ended_at"),
        )
    )


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    schema,
    text_col: str = "text",
    time_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: first occurrence of each normalized
    content hash wins (the streaming sibling of
    operators/dedup.exact_duplicates, maintained by Spark's dedup state
    store instead of a batch groupBy).

    With ``time_col`` the state is bounded by the watermark
    (dropDuplicatesWithinWatermark) — at 100 TB/day unbounded dedup
    state is a memory leak, so production streams should always pass an
    event-time column; the unbounded variant exists for finite backfills."""
    docs = spark.readStream.schema(schema).parquet(source_dir)
    h = F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))
    out = docs.withColumn("content_hash", h)
    if time_col:
        return out.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    return out.dropDuplicates(["content_hash"])


def stream_stateful_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    key_col: str = "user_id",
):
    """Custom stateful streaming operator via applyInPandasWithState: a
    running per-key event counter + value total that survives across
    micro-batches (the arbitrary-stateful-op surface the reference's
    secondary indexes would plug into; SURVEY.md §2.9/§2.10)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "key long, events long, total double"
    state_schema = "events long, total double"

    def fn(key, pdfs, state: GroupState):
        events, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            events += len(pdf)
            total += float(pdf["value"].sum())
        state.update((events, total))
        yield pd.DataFrame(
            {"key": [key[0]], "events": [events], "total": [round(total, 2)]}
        )

    events = spark.readStream.schema(schema).parquet(source_dir)
    return (
        events.groupBy(F.col(key_col))
        .applyInPandasWithState(fn, out_schema, state_schema, "update", "NoTimeout")
    )


class StreamingNearDupDetector:
    """Incrementally-maintained MinHash-LSH index over a document stream —
    the secondary-index-registration pattern (SURVEY.md §2.9, how
    crux-lucene replays/follows the log) applied to the training-data
    pipeline: each micro-batch of new documents is signed, probed against
    the accumulated band index (new-vs-corpus AND within-batch), and its
    postings are appended to the index.

    At 100 TB the band index is a parquet/Delta table bucketed by
    (band, bucket) so the probe join is co-located; here it is a
    localCheckpointed DataFrame advanced per batch.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 8,
        threshold: float = 0.5,
    ):
        from crux_spark.operators import dedup as _dedup

        self.spark = spark
        self.source_dir = source_dir
        self.schema = schema
        self.id_col, self.text_col = id_col, text_col
        self.n, self.num_hashes, self.bands = n, num_hashes, bands
        self.threshold = threshold
        # r13: the band index + per-batch probe live in ONE place —
        # IncrementalMinHashIndex (operators/dedup.py) — which also
        # carries exact verification, tx-listener and checkpoint
        # save/load forms. This class is its Structured Streaming
        # wrapper (foreachBatch follower + accumulated pair table).
        self._idx = _dedup.IncrementalMinHashIndex(
            spark, n=n, num_hashes=num_hashes, bands=bands,
            threshold=threshold, verify="est",
        )
        self.pairs: DataFrame = spark.createDataFrame(
            [], "id_a string, id_b string, est_jaccard double"
        )
        self._query = None

    @property
    def index(self) -> DataFrame | None:
        return self._idx.postings

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # the index replaces the postings of every id in the batch and
        # returns all of their pairs afresh, so every stored pair that
        # names one of those ids goes first; the union then holds each
        # pair once
        found = self._idx.add_batch(batch_df, self.id_col, self.text_col)
        ids = batch_df.select(self.id_col)
        kept = self.pairs
        for side in ("id_a", "id_b"):
            kept = kept.join(
                ids, kept[side] == ids[self.id_col], "left_anti"
            )
        self.pairs = kept.unionByName(found).localCheckpoint()

    def start(self, checkpoint_dir: str):
        # default micro-batch trigger (not availableNow): the detector is a
        # long-lived follower of the document stream; await_all() drains
        # whatever has arrived so far
        stream = self.spark.readStream.schema(self.schema).parquet(self.source_dir)
        self._query = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        return self._query

    def await_all(self) -> None:
        if self._query is not None:
            self._query.processAllAvailable()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None
