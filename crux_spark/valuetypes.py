"""Python carriers for the reference codec's value-type classes that
have no distinct Python/Spark native type (codec.clj:81-99 tag ids).

The codec gives every value a 1-byte type tag that leads its index
encoding, so values sort tag-first (codec.clj:270-354). Python covers
most classes natively (bool/int/float/str/datetime/date/timedelta/
Decimal; datetime.time = LocalTime tag 15), but four reference classes
collapse into the same Python type — these thin subclasses keep them
distinguishable in literals and documents:

- :class:`Char` (tag 9, codec.clj:258-263) — a 1-codepoint string that
  sorts AFTER all strings (tag 8 < 9).
- :class:`BigInt` (tag 12) / :class:`BigInteger` (tag 13,
  codec.clj:189-207 BCD encoding; EDN ``123N`` reads as BigInt) —
  arbitrary-precision ints; they sort after bigdec (11) and before
  localdate (14), and the two tags are DISTINCT classes in the
  reference (a BigInt never equals a BigInteger in index order).
- :class:`LocalDateTime` (tag 16, codec.clj:329-341).
- :class:`Instant` (tag 17, codec.clj:343-347) — distinct from
  java.util.Date (tag 7, what EDN ``#inst`` reads to): an Instant
  sorts after strings/dates, a Date before them.

Spark-side, the EAV view carries each class in its own typed slot
(sources/loaders.py triples_view); DataFrame columns opt into the
non-native classes via StructField metadata ``{"crux_type": ...}``
(e.g. ``df.withMetadata("col", {"crux_type": "char"})``), since Spark
has no char/bigint/localtime/instant column types. TimestampNTZ
columns ARE LocalDateTime (tag 16) natively; TimestampType is the
instant-like java.util.Date (tag 7).
"""

from __future__ import annotations

import datetime as _dt

NANOS_PER_SECOND = 1_000_000_000


class Char(str):
    """Single-character value (codec tag 9)."""

    def __new__(cls, s):
        s = str(s)
        if len(s) != 1:
            raise ValueError(f"Char must be exactly one character: {s!r}")
        return super().__new__(cls, s)


class BigInt(int):
    """clojure.lang.BigInt (codec tag 12; EDN ``123N``)."""


class BigInteger(int):
    """java.math.BigInteger (codec tag 13)."""


class LocalDateTime(_dt.datetime):
    """java.time.LocalDateTime (codec tag 16) — a naive wall-clock
    datetime that is NOT an instant; sorts after localtime (15) and
    before instant (17)."""


class Instant(_dt.datetime):
    """java.time.Instant (codec tag 17) — distinct from the Date class
    (tag 7) that plain ``datetime.datetime`` maps to."""


def time_to_nanos(t: _dt.time) -> int:
    """LocalTime -> nano-of-day, the codec's order-preserving encoding
    (codec.clj:322-327 puts ``.toNanoOfDay`` big-endian)."""
    return (
        (t.hour * 3600 + t.minute * 60 + t.second) * NANOS_PER_SECOND
        + t.microsecond * 1000
    )
