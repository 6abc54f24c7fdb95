"""Gateway-lifetime memo for py4j expression handles.

Several modules memoize constant Column trees (unresolved py4j
JavaObject handles) per JVM gateway so repeated operator builds skip
hundreds of py4j round trips. ``memo(key, build)`` is that one cache:
its entries are dropped when the JVM/gateway restarts. Keying on
``id(gateway)`` would be unsound: after
the old gateway object is garbage-collected, CPython can reuse its id
for the NEW gateway, silently serving dead handles (r15 advice).

``gateway_token()`` returns a monotonically increasing integer that
changes exactly when the active gateway OBJECT changes. The current
gateway is held through a weakref, so a recycled id can never alias:
if the old gateway were collected the weakref reads None and the token
bumps; if it is alive, ``is not`` compares true object identity.
"""

from __future__ import annotations

import threading
import weakref

_LOCK = threading.Lock()
_GW_REF: "weakref.ref | None" = None
_GW_TOKEN = 0
_MEMO: dict = {}
_MEMO_TOKEN: "int | None" = None


def gateway_token() -> int:
    """Stable integer for the CURRENT py4j gateway; bumps on restart.

    Returns a fresh (never-repeating) value when no gateway is active,
    so caches keyed on it simply miss instead of pinning stale handles.
    """
    global _GW_REF, _GW_TOKEN
    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    with _LOCK:
        cur = _GW_REF() if _GW_REF is not None else None
        if gw is None or gw is not cur:
            _GW_TOKEN += 1
            _GW_REF = weakref.ref(gw) if gw is not None else None
        return _GW_TOKEN


def memo(key, build):
    """``build()``'s value, built once per ``key`` for the current
    gateway. ``key`` names what ``build`` makes and its parameters; callers
    namespace it with their own tag."""
    global _MEMO_TOKEN
    tok = gateway_token()
    if tok != _MEMO_TOKEN:
        _MEMO.clear()  # fresh JVM: old handles are dead
        _MEMO_TOKEN = tok
    hit = _MEMO.get(key)
    if hit is None:
        hit = _MEMO[key] = build()
    return hit
