"""Pure-Python bitemporal splice algebra (no Spark imports).

Reproduces the reference's put/delete history-splicing semantics
(crux-core/src/crux/tx.clj:59-95 ``put-delete-etxs``) in the materialized
rectangle model of SURVEY.md §1.5: every version is a closed-open rectangle
(valid_from <= vt < valid_to) x (tx_from <= tx < tx_to). The reference
resolves visibility per read via descending index seeks; we pre-compute the
rectangles at ingest so an as-of read is a pure filter.

Semantics notes (tx_test.clj is the spec):
- put without end-valid-time covers [vt, next-version-boundary) — future
  versions are preserved (tx.clj:66-75 takes the history window up to the
  next version start).
- ranged put/delete covers [vt, end-vt); the version visible at end-vt
  resumes afterwards (we keep its clipped remainder).
- deletes are tombstone rows (deleted=True) so version boundaries survive
  for later splices and history listing (nil-id tombstones,
  index_store.clj:490-494).
- corrections: superseded rectangles get tx_to = current tx_id and remain
  queryable at earlier transaction times.
- evict removes every rectangle of the entity (GDPR hard delete,
  tx.clj:132-147).

This module is deliberately per-entity and list-based: entity histories are
small; scale comes from distributing entities (store.py wraps this in
applyInPandas co-grouped on eid).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from dataclasses import dataclass, replace
from typing import Any

# Time is int64 microseconds-since-epoch throughout this module: pandas /
# Arrow ns-timestamps cannot represent an end-of-time sentinel (pandas
# Timestamp.max is 2262), and long columns keep the rectangles
# comparison-friendly and pruning-friendly in parquet.
END_OF_TIME = 253402300799000000  # 9999-12-31T23:59:59 in micros
END_OF_TX = 1 << 62


def to_us(t: "dt.datetime | int | None") -> int | None:
    if t is None or isinstance(t, int):
        return t
    return int(t.timestamp() * 1_000_000) if t.tzinfo else int(
        t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )


def from_us(us: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(us / 1_000_000, tz=dt.timezone.utc).replace(
        tzinfo=None
    )


def content_hash(doc: dict | None) -> str | None:
    """sha1 of the canonical doc serialization (docjson.doc_dumps —
    typed-encode then sorted-keys dump). encode_doc is idempotent, so
    hashing the original typed doc and hashing json.loads(doc_json)
    give the same bytes — the invariant the closed form's norm UDF
    (store.py _bulk_put_versions) and apply_ops_df's cogroup rely on
    when they hash the docs of a frame with no content_hash column."""
    if doc is None:
        return None
    from crux_spark.bitemporal.docjson import doc_dumps

    return hashlib.sha1(doc_dumps(doc).encode()).hexdigest()


@dataclass(frozen=True)
class Version:
    valid_from: int  # microseconds since epoch
    valid_to: int
    tx_from: int
    tx_to: int  # END_OF_TX = still believed
    tx_time: int
    doc_json: str | None  # None for tombstones
    deleted: bool
    content_hash: str | None
    # True for the rectangle created directly by an op; False for clipped
    # remainders re-asserted by a later splice (rectangle bookkeeping, not a
    # history event)
    asserted: bool = True
    # the tx that ORIGINALLY asserted this content (preserved across
    # remainder splits, where tx_from becomes the splicing tx's id) —
    # the reference's take-while run key is (tx-time, tx-id,
    # content-hash), tx.clj:84-93; without the originating id two
    # different txs sharing a tx_time would merge into one run.
    # 0 = unknown (legacy rows): falls back to tx_from.
    origin_tx: int = 0
    # True iff this row's content_hash was BACK-COMPUTED at replay time
    # because the WAL row carried none (a pre-typed-upgrade WAL) — the
    # only rows where matches() may fall back to the legacy (untagged)
    # hash. Rows written by this build carry submit-time hashes and
    # must CAS strictly (r13 advice: the loose fallback let a typed
    # expected doc match a stored doc that merely STRINGIFIES the same).
    legacy_hash: bool = False

    def origin(self) -> int:
        return self.origin_tx or self.tx_from


def _current(history: list[Version]) -> list[Version]:
    return [r for r in history if r.tx_to == END_OF_TX]


def _boundaries(current: list[Version]) -> list[int]:
    """Version-change points of the current belief: rectangle starts AND
    ends. The reference writes an explicit etx at every version point —
    including the implicit nil at a ranged op's end (tx.clj:59-95) — and
    those points persist through later range-overwrites; rectangle ends
    are how this model carries them."""
    pts = set()
    for r in current:
        pts.add(r.valid_from)
        if r.valid_to != END_OF_TIME:
            pts.add(r.valid_to)
    return sorted(pts)


def _next_boundary(current: list[Version], vf: int) -> int:
    for p in _boundaries(current):
        if p > vf:
            return p
    return END_OF_TIME


def _splice(
    history: list[Version],
    tx_id: int,
    tx_time: int,
    vf: int,
    vt_end: int | None,
    doc: dict | None,
    deleted: bool,
    chash: str | None = None,
) -> list[Version]:
    current = _current(history)
    if vt_end is not None:
        end = vt_end
    else:
        # unranged op: the reference overwrites the contiguous run of
        # events that belong to the SAME original version as the one
        # visible at vf (tx.clj:84-93 take-while on (tx-time, tx-id,
        # content-hash)) — not merely up to the next boundary. Adjacent
        # rectangles split from one assertion share (content_hash,
        # deleted, tx_time), so the run extends across them
        # (tx_test.clj:471-478 "26.1 should overwrite the full range").
        vis = next(
            (r for r in current if r.valid_from <= vf < r.valid_to), None
        )
        if vis is None:
            end = _next_boundary(current, vf)
        else:
            end = vis.valid_to
            key = (vis.content_hash, vis.deleted, vis.tx_time, vis.origin())
            by_start = {r.valid_from: r for r in current}
            while end != END_OF_TIME:
                nxt = by_start.get(end)
                if nxt and (
                    nxt.content_hash, nxt.deleted, nxt.tx_time, nxt.origin()
                ) == key:
                    end = nxt.valid_to
                else:
                    break
    if end <= vf:
        return history
    out: list[Version] = []
    for r in history:
        if r.tx_to != END_OF_TX:
            out.append(r)
            continue
        if r.valid_to <= vf or r.valid_from >= end:
            out.append(r)  # disjoint in valid time
            continue
        # overlapping current rectangle: close it in tx time, keep the
        # surviving valid-time remainders under the new belief
        out.append(replace(r, tx_to=tx_id))
        if r.valid_from < vf:
            out.append(
                replace(r, valid_to=vf, tx_from=tx_id, tx_to=END_OF_TX, asserted=False)
            )
        if r.valid_to > end:
            out.append(
                replace(r, valid_from=end, tx_from=tx_id, tx_to=END_OF_TX, asserted=False)
            )
    # split the new assertion at interior version points of the replaced
    # belief: the reference writes one etx per overridden version point
    # inside the range (tx.clj:59-95), so those boundaries persist for
    # later unranged ops and for history listing
    splits = [p for p in _boundaries(current) if vf < p < end]
    if doc is None:
        doc_json = None
    else:
        from crux_spark.bitemporal.docjson import doc_dumps

        doc_json = doc_dumps(doc)  # typed-encode + canonical dump
    # an explicitly-passed hash (the WAL's submit-time hash) wins over
    # recomputation: the log's hashes are immutable even after eviction
    # redacts the doc content (the reference's content-addressed log)
    backfilled = chash is None and doc is not None
    if chash is None:
        chash = content_hash(doc)
    for seg_from, seg_to in zip([vf] + splits, splits + [end]):
        out.append(
            Version(
                valid_from=seg_from,
                valid_to=seg_to,
                tx_from=tx_id,
                tx_to=END_OF_TX,
                tx_time=tx_time,
                doc_json=doc_json,
                deleted=deleted,
                content_hash=chash,
                origin_tx=tx_id,
                legacy_hash=backfilled,
            )
        )
    return out


def put(
    history: list[Version],
    doc: dict,
    tx_id: int,
    tx_time: "int | dt.datetime",
    valid_from: "int | dt.datetime | None" = None,
    valid_to: "int | dt.datetime | None" = None,
    chash: str | None = None,
) -> list[Version]:
    tx_time, valid_from, valid_to = to_us(tx_time), to_us(valid_from), to_us(valid_to)
    return _splice(
        history, tx_id, tx_time, valid_from if valid_from is not None else tx_time,
        valid_to, doc, False, chash=chash,
    )


def delete(
    history: list[Version],
    tx_id: int,
    tx_time: "int | dt.datetime",
    valid_from: "int | dt.datetime | None" = None,
    valid_to: "int | dt.datetime | None" = None,
) -> list[Version]:
    tx_time, valid_from, valid_to = to_us(tx_time), to_us(valid_from), to_us(valid_to)
    return _splice(
        history, tx_id, tx_time, valid_from if valid_from is not None else tx_time,
        valid_to, None, True,
    )


def evict(history: list[Version]) -> list[Version]:
    return []


def as_of(
    history: list[Version], vt: "int | dt.datetime", tx: int = END_OF_TX - 1
) -> Version | None:
    """Visible version at (valid-time, tx) — entity-as-of
    (index_store.clj:774-795). Returns None if absent or deleted."""
    vt = to_us(vt)
    for r in history:
        if (
            r.valid_from <= vt < r.valid_to
            and r.tx_from <= tx < r.tx_to
        ):
            return None if r.deleted else r
    return None


def as_of_tx(history: list[Version], tx: int) -> list[Version]:
    """The history as believed at ``tx``: rows written by later txs are
    dropped and rows they closed are reopened, which is the history the
    store held right after ``tx`` committed (TxStore.fork_at's filter
    over one entity)."""
    return [
        r if r.tx_to <= tx else replace(r, tx_to=END_OF_TX)
        for r in history
        if r.tx_from <= tx
    ]


def matches(
    history: list[Version],
    expected: dict | None,
    vt: "int | dt.datetime",
    tx: int = END_OF_TX - 1,
    expected_hash: str | None = None,
) -> bool:
    """::tx/match — doc visible at vt equals expected (nil = absent)
    (tx.clj:100-111). ``expected_hash``, when given (the WAL's
    submit-time hash), is compared directly — hashes in the log are
    immutable, so replay verdicts survive evict redaction of the doc
    bodies."""
    cur = as_of(history, vt, tx)
    if expected is None and expected_hash is None:
        return cur is None
    if cur is None:
        return False
    if cur.content_hash == (
        expected_hash if expected_hash is not None else content_hash(expected)
    ):
        return True
    # Pre-typed-docs compatibility (WAL-only restores carry no index
    # version stamp): a doc stored before the typed-sidecar upgrade
    # holds the legacy untagged hash, so a typed expected doc would
    # spuriously mismatch. Fall back to the legacy (no-sidecar) dump —
    # but ONLY for rows whose hash was back-computed from a hash-less
    # WAL row (legacy_hash): for rows written by a typed build, the
    # legacy dump's default=str would collapse datetime(2024,1,1) and
    # the string "2024-01-01 00:00:00" to identical bytes and let a
    # typed match succeed against a stored doc that merely stringifies
    # the same (r13 advice — CAS must stay exact post-upgrade).
    if (expected is not None and expected_hash is None
            and getattr(cur, "legacy_hash", False)):
        legacy = hashlib.sha1(
            json.dumps(expected, sort_keys=True, default=str).encode()
        ).hexdigest()
        return cur.content_hash == legacy
    return False


def entity_history(
    history: list[Version],
    ascending: bool = True,
    with_corrections: bool = False,
    start_valid_time: "int | dt.datetime | None" = None,
    end_valid_time: "int | dt.datetime | None" = None,
    start_tx_id: int | None = None,
    end_tx_id: int | None = None,
) -> list[Version]:
    """Version sequence (index_store.clj:524-554). Without corrections:
    only the current belief's rectangles, ordered by valid_from; with:
    every rectangle ever asserted, ordered by (valid_from, tx_from).

    Bounds follow the reference's orientation (entity-history-seq-asc/desc):
    ``start`` is where iteration begins — the LOW end when ascending, the
    HIGH end when descending — and is inclusive; ``end`` is exclusive.
    Valid-time bounds compare against valid_from, tx bounds against tx_from.
    With tx bounds and no corrections, the per-valid-time collapse keeps the
    latest assertion *within* the tx window (the reference filters raw
    entries before partition-by vt), not the globally-current belief.
    """
    svt, evt = to_us(start_valid_time), to_us(end_valid_time)
    has_tx_bounds = start_tx_id is not None or end_tx_id is not None
    if with_corrections or has_tx_bounds:
        rows = [r for r in history if r.asserted]
    else:
        rows = _current(history)
    if ascending:
        if svt is not None:
            rows = [r for r in rows if r.valid_from >= svt]
        if evt is not None:
            rows = [r for r in rows if r.valid_from < evt]
        if start_tx_id is not None:
            rows = [r for r in rows if r.tx_from >= start_tx_id]
        if end_tx_id is not None:
            rows = [r for r in rows if r.tx_from < end_tx_id]
    else:
        if svt is not None:
            rows = [r for r in rows if r.valid_from <= svt]
        if evt is not None:
            rows = [r for r in rows if r.valid_from > evt]
        if start_tx_id is not None:
            rows = [r for r in rows if r.tx_from <= start_tx_id]
        if end_tx_id is not None:
            rows = [r for r in rows if r.tx_from > end_tx_id]
    if not with_corrections and has_tx_bounds:
        latest: dict[int, Version] = {}
        for r in rows:
            cur = latest.get(r.valid_from)
            if cur is None or r.tx_from > cur.tx_from:
                latest[r.valid_from] = r
        rows = list(latest.values())
    rows = sorted(rows, key=lambda r: (r.valid_from, r.tx_from))
    return rows if ascending else list(reversed(rows))
