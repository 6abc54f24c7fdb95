"""Valid-time interval model: the oracle for store reads.

Each entity's current-belief timeline is a step function over valid time,
kept as sorted change points ``(valid_from_us, doc_or_None)``; ``None`` means
absent (deleted or not yet created). This is the reference semantics of
bitemporal puts, written independently of ``crux_spark``:

- put/delete at ``vf`` with no end: sets the value at ``vf``; it holds until
  the entity's next later change point;
- put/delete over ``[vf, vt)``: the value holds exactly there, the later
  change points inside the range are replaced, and the value in effect at
  ``vt`` before the write is restored from ``vt`` on.
"""

from __future__ import annotations

import bisect


class Timeline:
    __slots__ = ("times", "docs")

    def __init__(self):
        self.times: list[int] = []
        self.docs: list[dict | None] = []

    def at(self, t: int) -> dict | None:
        i = bisect.bisect_right(self.times, t) - 1
        return self.docs[i] if i >= 0 else None

    def _set(self, t: int, doc) -> None:
        i = bisect.bisect_left(self.times, t)
        if i < len(self.times) and self.times[i] == t:
            self.docs[i] = doc
        else:
            self.times.insert(i, t)
            self.docs.insert(i, doc)

    def write(self, doc, vf: int, vt: int | None = None) -> None:
        if vt is None:
            self._set(vf, doc)
            return
        restore = self.at(vt)
        lo = bisect.bisect_right(self.times, vf)
        hi = bisect.bisect_left(self.times, vt)
        del self.times[lo:hi]
        del self.docs[lo:hi]
        self._set(vf, doc)
        self._set(vt, restore)

    @property
    def first(self) -> int | None:
        return self.times[0] if self.times else None

    @property
    def last(self) -> int | None:
        return self.times[-1] if self.times else None


class Model:
    def __init__(self):
        self.entities: dict[str, Timeline] = {}

    def timeline(self, eid: str) -> Timeline:
        tl = self.entities.get(eid)
        if tl is None:
            tl = self.entities[eid] = Timeline()
        return tl

    def at(self, eid: str, t: int) -> dict | None:
        tl = self.entities.get(eid)
        return tl.at(t) if tl else None

    def apply(self, op: tuple) -> None:
        """Apply one benchmark op: ('put', doc, vf, vt) / ('delete', eid, vf, vt)
        with times in microseconds; match ops do not change state."""
        kind = op[0]
        if kind == "put":
            self.timeline(op[1]["id"]).write(op[1], op[2], op[3])
        elif kind == "delete":
            self.timeline(op[1]).write(None, op[2], op[3])

    def apply_tx(self, ops) -> None:
        for op in ops:
            self.apply(op)

    def snapshot(self, t: int) -> dict[str, dict]:
        """eid -> doc for every entity visible at valid time t."""
        out = {}
        for eid, tl in self.entities.items():
            d = tl.at(t)
            if d is not None:
                out[eid] = d
        return out
