"""Result checks that do not use ``crux_spark``: the valid-time model for
store reads, DuckDB for analytic queries, and planted ground truth plus
exact Jaccard for dedup."""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import defaultdict

import gen
import tpch

REL_TOL = 1e-6
# MinHash LSH is probabilistic: at the planted near-dup similarity (~0.95) a
# member is occasionally left out of its cluster. Recall below this floor
# counts as an error; any false merge or false pair always does.
RECALL_FLOOR = 0.97


def plain(doc: dict | None) -> dict | None:
    """A doc without engine bookkeeping keys (namespaced 'crux.')."""
    if doc is None:
        return None
    return {k.lstrip(":"): v for k, v in doc.items() if not k.lstrip(":").startswith("crux.")}


def plain_doc(doc_json: str) -> dict:
    return plain(json.loads(doc_json))


def same_timeline(got: list[tuple[int, dict | None]], want: list[tuple[int, dict | None]]) -> bool:
    """Two step functions over valid time are equal at every change point of
    either (redundant change points are allowed)."""
    g, w = dict(sorted(got)), dict(sorted(want))

    def at(steps: dict, t: int):
        val = None
        for k in steps:
            if k > t:
                break
            val = steps[k]
        return val

    return all(at(g, t) == at(w, t) for t in sorted(set(g) | set(w)))


def check_read(kind: str, got, want) -> bool:
    if kind == "doc":
        return plain(got) == want
    if kind == "history":
        pts = [(gen.us(h["valid_from"]), None if h.get("deleted") or h.get("doc") is None
                else plain(h["doc"])) for h in got]
        return same_timeline(pts, want)
    if kind == "rows":
        return sorted(tuple(r) for r in got) == want
    if kind == "pull":
        return [plain(d) for d in got] == want
    raise ValueError(kind)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6)
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def _key(row) -> tuple:
    return tuple(str(v) for v in row if not isinstance(v, float))


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality; floats compared with a relative tolerance."""
    if len(got) != len(want):
        return False
    g = sorted(got, key=lambda r: (_key(r), [v for v in r if isinstance(v, float)]))
    w = sorted(want, key=lambda r: (_key(r), [v for v in r if isinstance(v, float)]))
    return all(len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b)) for a, b in zip(g, w))


def duck_expected(con, cls: str, params: list) -> list[tuple]:
    if cls in tpch.QUERIES:
        return con.execute(tpch.QUERIES[cls][1], params).fetchall()
    if cls in ("sql_vt", "datalog_vt"):
        return con.execute(tpch.LATEST_SQL, params).fetchall()
    if cls == "history_scan":
        return con.execute(tpch.ROLLUP_SQL, params).fetchall()
    raise ValueError(cls)


def check_dedup(op: dict, pdf, truth: dict) -> dict:
    """Verdict on one pipeline pass against the planted clusters."""
    problems = []
    texts = dict(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))
    tokens = {i: len(t.split()) for i, t in texts.items()}
    if sorted(op["analyze"]) != sorted(tokens.items()):
        problems.append("analyze: token counts or doc set differ")
    if sorted(sorted(g) for g in op["exact"]) != truth["exact"]:
        problems.append(f"exact groups: {len(op['exact'])} found, {len(truth['exact'])} planted")
    cluster_of = {i: c for c, ids in enumerate(truth["clusters"]) for i in ids}
    shingles: dict[int, set] = {}

    def sh(i):
        if i not in shingles:
            shingles[i] = gen.shingle_set(texts[i])
        return shingles[i]

    true_pairs = 0
    for a, b, _ in op["pairs"]:
        same = a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
        j = gen.jaccard(sh(a), sh(b))
        if same and j >= 0.5:
            true_pairs += 1
        else:
            problems.append(f"pair ({a}, {b}) exact jaccard {j:.3f}, same cluster {same}")
    comps = defaultdict(list)
    for i, c in op["components"]:
        comps[c].append(i)
    found = {tuple(sorted(v)) for v in comps.values()}
    planted = {tuple(c) for c in truth["clusters"]}
    recall = len(found & planted) / max(1, len(planted))
    merged = [c for c in found if len({cluster_of.get(i, -1 - i) for i in c}) > 1]
    if merged:
        problems.append(f"components merge distinct clusters, e.g. {merged[:2]}")
    if recall < RECALL_FLOOR:
        problems.append(f"components: {len(found & planted)}/{len(planted)} planted clusters "
                        f"recovered, e.g. planted {sorted(planted - found)[:2]}")
    return {
        "problems": problems,
        "planted_recall": recall,
        "pair_precision": true_pairs / len(op["pairs"]) if op["pairs"] else 0.0,
    }
