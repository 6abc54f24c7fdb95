"""The replay seam of the incremental secondary indexes.

The reference keeps a secondary index current by replaying the tx log
through it (``register-index!``, crux-core/src/crux/tx.clj:400-410) and
checkpoints the index directory beside the KV index (crux-lucene through
crux-core/src/crux/checkpoint.clj). Here an index is a few DataFrames
keyed by entity id, and :class:`ReplayIndex` owns what the text, MinHash
and vector indexes share: the final-op rule (:func:`final_ops`), the
replay rule (every touched entity loses its old state, then the batch's
puts that carry the indexed field add new rows), the lineage cadence,
the indexed-tx watermark ``last_tx_id`` and save/load.

CONTRACT: each merge is a lazy ``localCheckpoint`` and only every
``CHECKPOINT_EVERY``-th batch materializes eagerly, so an ops batch must
stay re-readable for that many batches. TxLogStream pins each
micro-batch before dispatch; a direct caller passes a re-readable (for
example a ``localCheckpoint``ed or driver-local) frame.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# every CHECKPOINT_EVERY-th batch merges eagerly
CHECKPOINT_EVERY = 8


def final_ops(ops_batch: DataFrame) -> DataFrame:
    """(eid, op, doc_json): each entity's last put/delete/evict in the
    batch by (tx_id, seq). A micro-batch can carry several txs touching
    the same entity; indexing every put would double-count a put+put and
    resurrect a put-then-delete."""
    eff = ops_batch.filter(F.col("op").isin("put", "delete", "evict"))
    return eff.groupBy("eid").agg(
        F.max_by(F.struct("op", "doc_json"), F.struct("tx_id", "seq")).alias("last")
    ).select("eid", "last.op", "last.doc_json")


class ReplayIndex:
    """Base of the incremental indexes.

    ``STATE`` maps each state frame's attribute name to the column its
    saved parquet directory is partitioned by (None: unpartitioned);
    ``ID`` is the entity-id column of the state frames; ``PARAMS`` are
    the constructor arguments ``index.json`` carries."""

    STATE: dict[str, str | None] = {}
    ID = "eid"
    PARAMS: tuple[str, ...] = ()

    def __init__(self, spark):
        self.spark = spark
        self.last_tx_id: int = -1
        self._since_eager = 0
        for name in self.STATE:
            setattr(self, name, None)

    def _apply(self, touched: DataFrame, puts: DataFrame):
        """Fold one batch in: `touched` (eid) lists every entity the
        batch touches, `puts` (eid, value) the final puts whose doc
        carries the indexed field, value as raw JSON text."""
        raise NotImplementedError

    def _replay(self, ops_batch: DataFrame, field: str,
                max_tx: int | None = None):
        """Apply one committed ops batch; returns what :meth:`_apply`
        returns. `max_tx` is the batch's max tx id when the caller
        already knows it; without it the watermark costs one aggregate."""
        last = final_ops(ops_batch)
        puts = (
            last.filter(F.col("op") == "put")
            .select("eid", F.get_json_object("doc_json", f"$.{field}").alias("value"))
            .filter(F.col("value").isNotNull())
        )
        out = self._apply(last.select("eid"), puts)
        if max_tx is None:
            mx = ops_batch.agg(F.max("tx_id")).first()[0]
            max_tx = int(mx) if mx is not None else None
        if max_tx is not None:
            self.last_tx_id = max(self.last_tx_id, int(max_tx))
        return out

    def _eager(self) -> bool:
        """Tick the cadence once per batch: True when this batch's
        merges materialize eagerly."""
        self._since_eager += 1
        if self._since_eager < CHECKPOINT_EVERY:
            return False
        self._since_eager = 0
        return True

    def _merge(self, name: str, touched: DataFrame, new: DataFrame,
               eager: bool) -> DataFrame:
        """Replace state frame `name` with its rows for untouched ids
        plus `new`. An empty index takes `new` as it is."""
        old = getattr(self, name)
        if old is not None:
            new = (
                old.join(touched, self.ID, "left_anti")
                .unionByName(new)
                .localCheckpoint(eager=eager)
            )
        setattr(self, name, new)
        return new

    def save(self, path: str) -> None:
        """Persist the index under `path`: each state frame as parquet
        plus ``index.json`` with the params and the watermark."""
        os.makedirs(path, exist_ok=True)
        for name, part in self.STATE.items():
            df = getattr(self, name)
            if df is not None:
                w = df.write.mode("overwrite")
                (w.partitionBy(part) if part else w).parquet(
                    os.path.join(path, name)
                )
        meta = {p: getattr(self, p) for p in self.PARAMS}
        with open(os.path.join(path, "index.json"), "w") as f:
            json.dump({**meta, "last_tx_id": self.last_tx_id}, f,
                      default=lambda a: a.tolist())

    @classmethod
    def load(cls, spark, path: str):
        """Restore an index saved with :meth:`save`; the caller (usually
        CheckpointStore.restore_latest) replays the tx-log tail past
        ``last_tx_id`` through its listener. State frames are
        ``localCheckpoint``ed, because checkpoint retention may delete
        `path` while the index is live."""
        with open(os.path.join(path, "index.json")) as f:
            meta = json.load(f)
        idx = cls(spark, **{p: meta[p] for p in cls.PARAMS if p in meta})
        idx.last_tx_id = int(meta.get("last_tx_id", -1))
        for name in cls.STATE:
            d = os.path.join(path, name)
            if os.path.isdir(d):
                setattr(idx, name, spark.read.parquet(d).localCheckpoint())
        return idx
