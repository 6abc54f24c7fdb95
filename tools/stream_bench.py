"""Streaming micro-batch cost of TxStore.apply_ops_df: wall time and
Spark jobs per batch, by batch kind, through TxLogStream._apply_batch
(the foreachBatch body, called directly on parquet batches).

A store of ``--entities`` one-version entities is loaded with
bulk_ingest, then ``--batches`` batches of ``--batch`` ops of each kind
are applied in turn:

  fresh   puts on new eids, two per eid
  update  puts on eids with history
  mixed   half fresh, half update
  match   update puts, every fifth in a tx with a failing match

Usage (from the repo root, so Python workers import this checkout):
    python tools/stream_bench.py [--entities N] [--batch B] [--batches K]
        [--out results.jsonl] [--label name]
Prints the median seconds and jobs per kind over batches 3..K.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
from pyspark.sql import functions as F

from crux_spark import get_spark
from crux_spark.bitemporal.store import OPS_SCHEMA, TxStore
from crux_spark.streaming.ingest import TxLogStream

KINDS = ("fresh", "update", "mixed", "match")


def batch_rows(kind: str, k: int, n: int, size: int, tx0: int) -> list[dict]:
    rows = []
    for i in range(size):
        tx = tx0 + i
        old = f"e{(k * size + i) % n}"
        eid = {"fresh": f"f{k}_{i // 2}", "update": old,
               "mixed": f"m{k}_{i}" if i % 2 else old, "match": old}[kind]
        base = dict(eid=eid, tx_id=tx, seq=0, op="put", tx_time=tx,
                    doc_json=json.dumps({"v": i}), expected_json=None,
                    content_hash=None, expected_hash=None,
                    valid_from=None, valid_to=None)
        if kind == "match" and i % 5 == 0:
            # expects the eid absent; it has history, so the tx aborts
            rows.append(dict(base, op="match", doc_json=None))
            base["seq"] = 1
        rows.append(base)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=20_000)
    ap.add_argument("--batch", type=int, default=500)
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--out")
    ap.add_argument("--label", default="run")
    args = ap.parse_args()

    spark = get_spark("stream-bench", cpus=4, shuffle_partitions=8)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    tmp = tempfile.mkdtemp(prefix="stream-bench-")
    try:
        tx = 10**13
        paths = {}
        for kind in KINDS:
            for k in range(args.batches):
                rows = batch_rows(kind, k, args.entities, args.batch, tx)
                tx += args.batch
                paths[kind, k] = os.path.join(tmp, f"{kind}_{k}")
                spark.createDataFrame(
                    pd.DataFrame(rows, columns=OPS_SCHEMA.fieldNames()),
                    OPS_SCHEMA,
                ).coalesce(1).write.parquet(paths[kind, k])

        store = TxStore(spark)
        store.bulk_ingest(
            spark.range(args.entities).select(
                F.concat(F.lit("e"), F.col("id")).alias("eid"),
                F.col("id").alias("v"),
                F.timestamp_seconds(F.col("id") + 1_000).alias("vf"),
            ),
            id_expr="eid", doc_cols=["v"], valid_from_col="vf",
        )
        stream = TxLogStream(spark, log_dir=tmp, store=store)
        res = []
        for epoch, (kind, k) in enumerate(paths):
            df = spark.read.schema(OPS_SCHEMA).parquet(paths[kind, k])
            j0 = int(sched.nextJobId())
            t0 = time.perf_counter()
            stream._apply_batch(df, epoch)
            res.append(dict(
                label=args.label, kind=kind, k=k,
                s=round(time.perf_counter() - t0, 3),
                jobs=int(sched.nextJobId()) - j0,
                parts=store.versions.rdd.getNumPartitions(),
            ))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if args.out:
        with open(args.out, "a") as f:
            f.writelines(json.dumps(r) + "\n" for r in res)
    for kind in KINDS:
        rs = [r for r in res if r["kind"] == kind and r["k"] >= 2]
        print(f"{args.label} {kind:6s} median_s="
              f"{statistics.median(r['s'] for r in rs):.3f} "
              f"jobs={statistics.median(r['jobs'] for r in rs):g} "
              f"parts={rs[-1]['parts']}")
    spark.stop()


if __name__ == "__main__":
    main()
