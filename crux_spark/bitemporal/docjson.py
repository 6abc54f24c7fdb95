"""Typed document JSON — reference-parity round trips for doc values.

The reference stores EDN documents, so `entity` returns exactly what
`put` submitted — #inst values come back as Dates, BigDecimals as
BigDecimals (crux-test api_test.clj round-trips). This store's wire
format is JSON (one `doc_json` string per version; Spark-side consumers
read it with from_json/get_json_object), where datetimes, Decimals and
the codec wrapper classes have no native carrier.

Design constraint: the VALUE bytes must stay exactly what the legacy
``json.dumps(doc, default=str)`` produced — SQL-over-docs consumers
parse doc_json with user-declared DDL (sql.register_snapshot,
Catalog.from_store), and "o_orderdate timestamp" only parses the bare
"2024-01-02 03:04:05" string. So instead of tagging values in place,
one reserved TOP-LEVEL key carries a sidecar of ``[path, tag(, extra)]``
entries::

    {"id": "e1", "when": "2024-01-02 03:04:05",
     "crux.json/types": [[["when"], "inst"]]}

- Encoding is byte-identical to the legacy format for every value
  (str(x), which default=str produced) — except sets, whose legacy
  encoding was the lossy ``str({...})``; they become sorted lists plus
  a "set" tag.
- Decoding pops the sidecar and rebuilds the typed values; docs without
  the key (bulk_ingest to_json docs, legacy data) pass through
  unchanged.
- ``encode_doc`` is idempotent (an already-encoded dict returns as-is),
  so ``content_hash(original_doc) == content_hash(json.loads(doc_json))``
  — the invariant the closed-form splice relies on (store.py
  _bulk_put_versions, which apply_ops_df uses for all-fresh frames and
  commit() for a first batch: stored doc_json is the sorted-keys
  re-dump and content_hash its sha1, byte-identical to
  splice.content_hash's input).

The ``crux.json/`` key namespace is reserved, the way the reference
reserves ``:crux.db/`` document keys.

Paths are JSON arrays mixing dict keys (strings) and list/sorted-set
positions (ints) — no dotted-string ambiguity for keys containing dots.
Tags: inst (datetime, codec tag 7), instant (17), ldt (16), date (14),
time (15), dur (18, extra = total microseconds), dec (11), char (9),
bigint (12) / biginteger (13), set. Wrapper classes live in
crux_spark.valuetypes; plain ints (arbitrary precision) and the other
JSON-native types need no tag.
"""

from __future__ import annotations

import datetime as _dt
import json
from decimal import Decimal

from crux_spark.valuetypes import (
    BigInt,
    BigInteger,
    Char,
    Instant,
    LocalDateTime,
)

TYPES_KEY = "crux.json/types"


# ---------------------------------------------------------------------------
# encode

def encode_doc(doc: dict) -> dict:
    """Encode typed values to their legacy string forms + sidecar.
    Idempotent: a dict already carrying the sidecar returns unchanged."""
    if not isinstance(doc, dict) or TYPES_KEY in doc:
        return doc
    tags: list = []
    out = {}
    for k, v in doc.items():
        enc, sub = _enc(v)
        out[k] = enc
        tags.extend([[k] + p, t, *x] for p, t, *x in sub)
    if tags:
        tags.sort(key=lambda e: json.dumps(e[0]))
        out[TYPES_KEY] = tags
    return out


def _enc(v):
    """(encoded_value, tags_relative_to_this_node). Wrapper classes
    check before their bases; bool before int (bool is an int
    subclass). The encoded string for each typed value is str(x) —
    byte-identical to what default=str produced."""
    if v is None or isinstance(v, bool):
        return v, []
    if isinstance(v, Char):
        return str(v), [[[], "char"]]
    if isinstance(v, BigInt):
        return int(v), [[[], "bigint"]]
    if isinstance(v, BigInteger):
        return int(v), [[[], "biginteger"]]
    if isinstance(v, Instant):
        return str(v), [[[], "instant"]]
    if isinstance(v, LocalDateTime):
        return str(v), [[[], "ldt"]]
    if isinstance(v, _dt.datetime):
        return str(v), [[[], "inst"]]
    if isinstance(v, _dt.date):
        return str(v), [[[], "date"]]
    if isinstance(v, _dt.time):
        return str(v), [[[], "time"]]
    if isinstance(v, _dt.timedelta):
        us = (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
        return str(v), [[[], "dur", us]]
    if isinstance(v, Decimal):
        return str(v), [[[], "dec"]]
    if isinstance(v, (set, frozenset)):
        items = [_enc(e) for e in v]
        # sort by (encoded value, tag list): two distinct elements can
        # share an encoding (datetime(2024,1,1) vs the string
        # "2024-01-01 00:00:00"); without the tag tiebreak such ties
        # fall back to set iteration order, which varies per process and
        # made content_hash nondeterministic across sessions.
        items.sort(key=lambda p: (
            json.dumps(p[0], sort_keys=True, default=str),
            json.dumps(p[1], default=str),
        ))
        tags = [[[], "set"]]
        enc_items = []
        for i, (enc, sub) in enumerate(items):
            enc_items.append(enc)
            tags.extend([[i] + p, t, *x] for p, t, *x in sub)
        return enc_items, tags
    if isinstance(v, dict):
        tags = []
        out = {}
        for k, val in v.items():
            enc, sub = _enc(val)
            out[k] = enc
            tags.extend([[k] + p, t, *x] for p, t, *x in sub)
        return out, tags
    if isinstance(v, (list, tuple)):
        tags = []
        out = []
        for i, e in enumerate(v):
            enc, sub = _enc(e)
            out.append(enc)
            tags.extend([[i] + p, t, *x] for p, t, *x in sub)
        return out, tags
    return v, []  # str/int/float; unknown objects fall to default=str


def doc_dumps(doc) -> str:
    """The store's canonical doc serialization: typed-encode, then the
    legacy sorted-keys dump (default=str still backstops unknown
    objects). json.loads(doc_dumps(d)) re-dumped with the same options
    is byte-identical — the norm-UDF invariant."""
    return json.dumps(encode_doc(doc), sort_keys=True, default=str)


# ---------------------------------------------------------------------------
# decode

def decode_doc(doc):
    """Rebuild typed values from the sidecar; pass untagged docs (bulk
    ingest, legacy, tombstones) through unchanged."""
    if not isinstance(doc, dict) or TYPES_KEY not in doc:
        return doc
    tags = doc[TYPES_KEY]
    out = {k: v for k, v in doc.items() if k != TYPES_KEY}
    # deepest-first so conversions inside a set happen before the
    # list->set conversion consumes the positional indices
    for entry in sorted(tags, key=lambda e: -len(e[0])):
        path, tag, extra = entry[0], entry[1], entry[2:]
        try:
            _apply(out, path, tag, extra)
        except (KeyError, IndexError, TypeError, ValueError):
            pass  # tolerate a hand-edited/foreign sidecar entry
    return out


def _apply(root, path, tag, extra):
    node = root
    for p in path[:-1]:
        node = node[p]
    if path:
        leaf = node[path[-1]]
    else:  # pragma: no cover - top-level doc is always a dict
        leaf = node
    val = _decode_leaf(leaf, tag, extra)
    node[path[-1]] = val


def _naive_utc(d):
    """The store's convention is naive-as-UTC; bulk_ingest doc_json
    comes from Spark to_json (ISO 'T'/'Z' forms under the session's
    enforced UTC tz), which fromisoformat parses tz-aware."""
    if d.tzinfo is not None:
        d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return d


def _decode_leaf(leaf, tag, extra):
    if tag == "inst":
        return _naive_utc(_dt.datetime.fromisoformat(leaf))
    if tag == "instant":
        d = _naive_utc(_dt.datetime.fromisoformat(leaf))
        return Instant(*d.timetuple()[:6], d.microsecond)
    if tag == "ldt":
        d = _naive_utc(_dt.datetime.fromisoformat(leaf))
        return LocalDateTime(*d.timetuple()[:6], d.microsecond)
    if tag == "date":
        return _dt.date.fromisoformat(leaf)
    if tag == "time":
        return _dt.time.fromisoformat(leaf)
    if tag == "dur":
        return _dt.timedelta(microseconds=int(extra[0]))
    if tag == "dec":
        # bulk-ingest doc_json (Spark to_json) carries decimals as JSON
        # numbers, so json.loads hands us a float here; Decimal(float)
        # would expose the binary approximation (33.40 ->
        # 33.39999999...). str(float) round-trips the shortest decimal
        # form, which is the stored literal for to_json-emitted values.
        return Decimal(str(leaf)) if isinstance(leaf, float) else Decimal(leaf)
    if tag == "char":
        return Char(leaf)
    if tag == "bigint":
        return BigInt(leaf)
    if tag == "biginteger":
        return BigInteger(leaf)
    if tag == "set":
        # inner lists were tuples originally (sets hold hashables only)
        return {tuple(e) if isinstance(e, list) else e for e in leaf}
    raise ValueError(f"unknown doc type tag {tag!r}")


def doc_loads(s: str):
    return decode_doc(json.loads(s))
