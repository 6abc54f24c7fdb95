"""Durable tx-log transports (the reference's TxLog protocol,
crux-core/src/crux/db.clj:59-65).

The reference ships several interchangeable transports for the same
totally-ordered log: standalone KV (crux-core/src/crux/kv/tx_log.clj),
JDBC (crux-jdbc/src/crux/jdbc.clj — one `tx_events` table, tx-id from
the DB's auto-increment), and Kafka (crux-kafka). Here the same seam:

- JsonlTxLog — append-only JSONL file / object-store key (the default
  since round 2; reads distribute via spark.read.json).
- SqliteTxLog — the crux-jdbc analogue over stdlib sqlite3: one
  `tx_log(tx_id INTEGER PRIMARY KEY, entry TEXT)` table, transactional
  appends, works against any file path. Demonstrates the protocol on a
  real SQL engine without needing a server in the sandbox; swapping in
  postgres/mysql is a connection-string change (the reference's
  ->pool/dialect split, jdbc.clj:41-86).

Every entry is one submitted tx: {"tx_id": int, "rows": [op-rows]},
already tx-fn-expanded so replay is deterministic (tx.clj:424-479).
"""

from __future__ import annotations

import json
import os
from contextlib import closing
from typing import Iterable, Iterator

# Schema of the durable log as a DataFrame — used when the log is empty
# (json inference over zero rows would otherwise yield a schema-less frame
# and tx_log(with_ops=True) would fail resolving 'tx_id'/'rows' instead of
# returning an empty log).
WAL_DF_SCHEMA = (
    "tx_id long, aborted boolean, rows array<struct<"
    "tx_id: long, seq: long, op: string, eid: string, tx_time: long, "
    "doc_json: string, expected_json: string, content_hash: string, "
    "expected_hash: string, valid_from: long, valid_to: long>>"
)


def _empty_log_df(spark):
    return spark.createDataFrame([], WAL_DF_SCHEMA)


def _mend_tail(f) -> None:
    """Make a JSONL file (opened 'a+b') end at a line boundary. A crash in
    mid-append leaves a last line with no newline: a record that does not
    parse is cut off (entries() ignores it too); one that parses only lost
    its newline, which is put back. Otherwise the next append would glue
    its record onto the torn one and lose both."""
    end = f.seek(0, os.SEEK_END)
    if end == 0:
        return
    f.seek(end - 1)
    if f.read(1) == b"\n":
        return
    start = end
    while start > 0:
        step = min(start, 1 << 16)
        f.seek(start - step)
        i = f.read(step).rfind(b"\n")
        if i >= 0:
            start += i + 1 - step
            break
        start -= step
    f.seek(start)
    try:
        json.loads(f.read())
    except ValueError:
        f.truncate(start)
    else:
        f.write(b"\n")


class JsonlTxLog:
    """Append-only JSON-lines file: the durable WAL used since r2."""

    def __init__(self, path: str):
        self.path = path

    def append(self, entry: dict) -> None:
        with open(self.path, "a+b") as f:
            _mend_tail(f)
            f.write((json.dumps(entry) + "\n").encode())

    def entries(self) -> Iterator[dict]:
        if not os.path.exists(self.path):
            return
        with open(self.path) as f:
            for line in f:
                if line.strip():
                    try:
                        entry = json.loads(line)
                    except ValueError:
                        if line.endswith("\n"):
                            raise
                        return  # torn tail of a crashed append
                    yield entry

    def rewrite(self, entries: Iterable[dict]) -> None:
        """Atomic full rewrite (compact_wal's evict redaction)."""
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for e in entries:
                f.write(json.dumps(e) + "\n")
        os.replace(tmp, self.path)

    def to_df(self, spark):
        """Distributed read: at scale the log is object-store JSONL and
        this is a parallel scan."""
        if not os.path.exists(self.path) or os.path.getsize(self.path) == 0:
            return _empty_log_df(spark)
        return spark.read.json(self.path)


class SqliteTxLog:
    """crux-jdbc's tx-log shape over stdlib sqlite3: one table, the
    PRIMARY KEY is the total order. Appends are transactions — a crash
    mid-append leaves the log untouched (jdbc.clj's insert-event!)."""

    def __init__(self, path: str):
        self.path = path
        # closing() actually closes the connection (sqlite3's context
        # manager only commits); the inner `con` context scopes the tx
        with closing(self._conn()) as con, con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS tx_log ("
                "tx_id INTEGER PRIMARY KEY, entry TEXT NOT NULL)"
            )

    def _conn(self):
        import sqlite3

        return sqlite3.connect(self.path)

    def append(self, entry: dict) -> None:
        with closing(self._conn()) as con, con:
            con.execute(
                "INSERT OR REPLACE INTO tx_log (tx_id, entry) VALUES (?, ?)",
                (int(entry["tx_id"]), json.dumps(entry)),
            )

    def entries(self) -> Iterator[dict]:
        with closing(self._conn()) as con:
            for (entry,) in con.execute(
                "SELECT entry FROM tx_log ORDER BY tx_id"
            ):
                yield json.loads(entry)

    def rewrite(self, entries: Iterable[dict]) -> None:
        with closing(self._conn()) as con, con:
            con.execute("DELETE FROM tx_log")
            con.executemany(
                "INSERT INTO tx_log (tx_id, entry) VALUES (?, ?)",
                ((int(e["tx_id"]), json.dumps(e)) for e in entries),
            )

    def to_df(self, spark):
        """The log rows live in one SQL table; a cluster deployment
        reads it through the JDBC data source — here the driver streams
        the json lines into an RDD for the same schema inference."""
        lines = [json.dumps(e) for e in self.entries()]
        if not lines:
            return _empty_log_df(spark)
        return spark.read.json(spark.sparkContext.parallelize(lines))


def open_tx_log(spec):
    """Resolve a WAL spec: an existing backend passes through; a
    'sqlite:<path>' string opens SqliteTxLog; any other string is a
    JSONL path (back-compat with every wal_path caller)."""
    if spec is None:
        return None
    if hasattr(spec, "append") and hasattr(spec, "entries"):
        return spec
    if isinstance(spec, str) and spec.startswith("sqlite:"):
        return SqliteTxLog(spec[len("sqlite:"):])
    return JsonlTxLog(spec)
