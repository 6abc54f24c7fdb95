"""Seeded input generators. Every input of every workload comes from here;
the same seed gives byte-identical inputs.

Instants are whole seconds so micro-second conversions are exact on both
sides of every oracle comparison.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import random
import string

import numpy as np
import pandas as pd

from model import Model

EPOCH = dt.datetime(1970, 1, 1)
BASE = dt.datetime(2001, 1, 1)
SEC = 1_000_000
DAY = 86_400 * SEC
NODE_SCHEMA = "id string, name string, score bigint, grp bigint, ver bigint"
NODE_COLS = ["id", "name", "score", "grp", "ver"]
N_GROUPS = 100


def us(t: dt.datetime) -> int:
    return int((t - EPOCH).total_seconds()) * SEC


def from_us(u: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=u)


BASE_US = us(BASE)


def zipf_sampler(rng: random.Random, n: int, s: float = 1.1):
    """Draws ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""
    cum = list(np.cumsum([1.0 / (k + 1) ** s for k in range(n)]))
    total = cum[-1]
    return lambda: min(bisect.bisect_left(cum, rng.random() * total), n - 1)


# ---------------------------------------------------------------- doc stores


def _doc(rng: random.Random, eid: str, ver: int) -> dict:
    return {
        "id": eid,
        "name": f"n{rng.randrange(1000)}",
        "score": rng.randrange(1_000_000),
        "grp": rng.randrange(N_GROUPS),
        "ver": ver,
    }


def doc_store(seed: int, n_entities: int, versions: int) -> tuple[pd.DataFrame, Model]:
    """Initial bulk-load rows (one put per version, strictly increasing valid
    times per entity, ~30 days apart) and the model they produce."""
    rng = random.Random(f"store-{seed}")
    model = Model()
    rows = []
    for e in range(n_entities):
        eid = f"e{e:06d}"
        t = BASE_US + rng.randrange(30 * 86_400) * SEC
        for v in range(versions):
            d = _doc(rng, eid, v)
            rows.append((*[d[c] for c in NODE_COLS], from_us(t)))
            model.apply(("put", d, t, None))
            t += rng.randrange(20 * 86_400, 40 * 86_400) * SEC
    pdf = pd.DataFrame(rows, columns=NODE_COLS + ["vf"])
    pdf["vf"] = pdf["vf"].astype("datetime64[us]")
    return pdf, model


class OpGen:
    """Write ops drawn against a model (applied as they are generated, so the
    model is the expected state after every generated tx). Ops carry integer
    microsecond times; ``to_lib`` converts them to the library's tuples."""

    MIX = (("append", 60), ("correction", 20), ("ranged", 10), ("delete", 5), ("match", 5))

    def __init__(self, rng: random.Random, model: Model, n_entities: int):
        self.rng = rng
        self.model = model
        self.eids = sorted(model.entities)
        self.next_new = n_entities
        self.ver = 1_000
        self.pick = zipf_sampler(rng, len(self.eids), 1.1)
        self.deck: list[str] = []

    def _eid(self) -> str:
        return self.eids[self.pick()]

    def _sec(self, lo: int, hi: int) -> int:
        """A whole-second instant in [lo, hi] (microseconds)."""
        return self.rng.randrange(lo // SEC, max(lo // SEC, hi // SEC) + 1) * SEC

    def _new_doc(self, eid: str) -> dict:
        self.ver += 1
        return _doc(self.rng, eid, self.ver)

    def kind(self) -> str:
        """Next kind from a shuffled deck holding the exact mix."""
        if not self.deck:
            self.deck = [k for k, w in self.MIX for _ in range(w)]
            self.rng.shuffle(self.deck)
        return self.deck.pop()

    def op(self, kind: str) -> list[tuple]:
        rng = self.rng
        if kind == "append":
            if rng.random() < 0.2:
                eid = f"e{self.next_new:06d}"
                self.next_new += 1
                self.eids.append(eid)
                vf = self._sec(BASE_US, BASE_US + 400 * DAY)
            else:
                eid = self._eid()
                last = self.model.timeline(eid).last
                vf = self._sec(last + 3600 * SEC, last + 30 * DAY)
            ops = [("put", self._new_doc(eid), vf, None)]
        elif kind == "correction":
            eid = self._eid()
            tl = self.model.timeline(eid)
            vf = self._sec(tl.first + SEC, tl.last - SEC)
            ops = [("put", self._new_doc(eid), vf, None)]
        elif kind == "ranged":
            eid = self._eid()
            tl = self.model.timeline(eid)
            vf = self._sec(tl.first, tl.last + 30 * DAY)
            ops = [("put", self._new_doc(eid), vf, vf + rng.randrange(1, 60) * DAY)]
        elif kind == "delete":
            eid = self._eid()
            tl = self.model.timeline(eid)
            ops = [("delete", eid, self._sec(tl.first + SEC, tl.last), None)]
        elif kind in ("match", "match_fail"):
            # match the CURRENT doc (valid time now), then put a new version
            eid = self._eid()
            tl = self.model.timeline(eid)
            cur = tl.docs[-1] if tl.docs else None
            expected = None if cur is None else dict(cur)
            if kind == "match_fail":
                expected = dict(expected or {"id": eid})
                expected["score"] = -1
            vf = self._sec(tl.last + 3600 * SEC, tl.last + 30 * DAY)
            ops = [("match", eid, expected), ("put", self._new_doc(eid), vf, None)]
        else:
            raise ValueError(kind)
        return ops

    def tx(self, n_ops: int, kinds=None) -> list[tuple]:
        """A tx of about n_ops ops from the mix ('match' adds a put), applied
        to the model."""
        ops: list[tuple] = []
        while len(ops) < n_ops:
            new = self.op(kinds.pop() if kinds else self.kind())
            self.model.apply_tx(new)
            ops.extend(new)
        return ops

    def failing_tx(self, n_pairs: int) -> list[tuple]:
        """match+put pairs whose first match cannot hold: the tx aborts, so
        the model is left untouched."""
        ops = self.op("match_fail")
        for _ in range(n_pairs - 1):
            ops.extend(self.op("match"))
        return ops


def to_lib(op: tuple) -> tuple:
    kind = op[0]
    if kind == "put":
        return ("put", op[1], from_us(op[2]), None if op[3] is None else from_us(op[3]))
    if kind == "delete":
        return ("delete", op[1], from_us(op[2]), None if op[3] is None else from_us(op[3]))
    return ("match", op[1], op[2])


def user_bytes(ops) -> int:
    """JSON bytes of the user docs carried by a tx (puts and match args)."""
    n = 0
    for op in ops:
        if op[0] == "put" or (op[0] == "match" and op[2] is not None):
            n += len(json.dumps(op[1] if op[0] == "put" else op[2]))
    return n


def quantile_sizes(k: int, hi: int = 1000) -> list[int]:
    """k tx sizes at the stratum midpoints of a log-uniform draw on [1, hi]:
    a whole pass over them carries a fixed number of ops, so the committed-op
    throughput of a pass does not swing with a handful of size draws."""
    return [max(1, round(hi ** ((i + 0.5) / k))) for i in range(k)]


# ------------------------------------------------------------ TPC-H shape

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
TYPE_A = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TYPE_B = ["ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"]
D0 = np.datetime64("1992-01-01", "us")


def tpch_tables(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """A TPC-H-shaped star schema; scale 1.0 is 15k orders / ~60k lineitems
    (about TPC-H sf0.01)."""
    r = np.random.default_rng(seed)
    n_cust, n_supp = max(50, int(1500 * scale)), max(10, int(100 * scale))
    n_part, n_ord = max(50, int(2000 * scale)), max(200, int(15000 * scale))
    day = np.timedelta64(1, "D")
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [n for n, _ in NATIONS],
            "n_regionkey": np.array([k for _, k in NATIONS], dtype="int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": r.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    ptype = [f"{a} {b}" for a, b in zip(r.choice(TYPE_A, n_part), r.choice(TYPE_B, n_part))]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(1, n_part + 1, dtype="int64"),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_type": ptype,
            "p_retailprice": np.round(900 + r.uniform(0, 1100, n_part), 2),
        }
    )
    odate = D0 + r.integers(0, 2405, n_ord) * day
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype="int64"),
            "o_custkey": r.integers(1, n_cust + 1, n_ord).astype("int64"),
            "o_totalprice": np.round(r.uniform(1000, 400000, n_ord), 2),
            "o_orderdate": odate,
            "o_orderpriority": r.choice(PRIORITIES, n_ord),
        }
    )
    per = r.integers(1, 8, n_ord)
    n_li = int(per.sum())
    okey = np.repeat(orders["o_orderkey"].to_numpy(), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype("int32")
    l_od = np.repeat(odate, per)
    pkey = r.integers(1, n_part + 1, n_li).astype("int64")
    qty = r.integers(1, 51, n_li).astype("float64")
    ship = l_od + r.integers(1, 122, n_li) * day
    commit = l_od + r.integers(30, 91, n_li) * day
    receipt = ship + r.integers(1, 31, n_li) * day
    cutoff = np.datetime64("1995-06-17", "us")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": pkey,
            "l_suppkey": r.integers(1, n_supp + 1, n_li).astype("int64"),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * part["p_retailprice"].to_numpy()[pkey - 1], 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.where(
                receipt <= cutoff, r.choice(["R", "A"], n_li), "N"
            ),
            "l_linestatus": np.where(ship > cutoff, "O", "F"),
            "l_shipdate": ship,
            "l_commitdate": commit,
            "l_receiptdate": receipt,
            "l_shipmode": r.choice(SHIPMODES, n_li),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem,
    }


def tpch_params(rng: random.Random) -> dict[str, list]:
    """qgen-style substitution parameters, one set per query."""
    def date(y0, y1, month_step=1):
        y = rng.randrange(y0, y1 + 1)
        m = rng.randrange(1, 13, month_step)
        return f"{y}-{m:02d}-01"

    def add_months(d: str, k: int) -> str:
        y, m = int(d[:4]), int(d[5:7]) - 1 + k
        return f"{y + m // 12}-{m % 12 + 1:02d}-01"

    q3d = f"1995-03-{rng.randrange(1, 32):02d}"
    y5 = rng.randrange(1993, 1998)
    y6 = rng.randrange(1993, 1998)
    disc = rng.randrange(2, 10) / 100.0
    q10 = date(1993, 1994, 3)
    y12 = rng.randrange(1993, 1998)
    q14 = date(1993, 1997)
    modes = rng.sample(SHIPMODES, 2)
    return {
        "q1": [(dt.date(1998, 12, 1) - dt.timedelta(days=rng.randrange(60, 121))).isoformat()],
        "q3": [rng.choice(SEGMENTS), q3d],
        "q5": [rng.choice(REGIONS), f"{y5}-01-01", f"{y5 + 1}-01-01"],
        "q6": [f"{y6}-01-01", f"{y6 + 1}-01-01", round(disc - 0.011, 3), round(disc + 0.011, 3),
               float(rng.randrange(24, 26))],
        "q10": [q10, add_months(q10, 3)],
        "q12": [modes, f"{y12}-01-01", f"{y12 + 1}-01-01"],
        "q14": [q14, add_months(q14, 1)],
        "q18": [float(rng.randrange(250, 290))],
    }


# ------------------------------------------------------------ ts-devices

DEVICE_MODELS = ["pinto", "mustang", "bronco", "focus", "fiesta"]
DEVICE_SCHEMA = "id string, model string, battery double, cpu double"
DEVICE_COLS = ["id", "model", "battery", "cpu"]
DEV_BASE_US = us(dt.datetime(2016, 11, 15))


def devices(seed: int, n_devices: int, n_readings: int) -> pd.DataFrame:
    """ts-devices-shaped readings: one device entity per id, one reading every
    ~10 minutes, each a new version at its valid time."""
    r = np.random.default_rng(seed + 7)
    rows = []
    for d in range(n_devices):
        model = DEVICE_MODELS[d % len(DEVICE_MODELS)]
        t = DEV_BASE_US + int(r.integers(0, 600)) * SEC
        for _ in range(n_readings):
            rows.append((f"dev-{d:05d}", model, round(float(r.uniform(5, 100)), 3),
                         round(float(r.uniform(0, 100)), 3), from_us(t)))
            t += int(r.integers(540, 660)) * SEC
    pdf = pd.DataFrame(rows, columns=DEVICE_COLS + ["ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def device_instants(rng: random.Random, n_readings: int) -> dict[str, dt.datetime]:
    span = n_readings * 600
    def at(lo, hi):
        return from_us(DEV_BASE_US + rng.randrange(int(span * lo), int(span * hi)) * SEC)
    t0 = at(0.1, 0.6).replace(minute=0, second=0)
    return {
        "sql_vt": at(0.2, 0.95),
        "dl_vt": at(0.2, 0.95),
        "scan_from": t0,
        "scan_to": t0 + dt.timedelta(hours=max(2, int(span * 0.3 / 3600))),
    }


# ------------------------------------------------------------ dedup corpus


def corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """Random-word docs with planted duplicate clusters. Each cluster is a
    root, 1-2 exact copies (case/whitespace changed) and 1-2 near copies (one
    word replaced: word-3-shingle Jaccard ~0.95). Returns the docs and the
    ground truth {'clusters': [ids], 'exact': [ids]} (id lists sorted)."""
    rng = random.Random(f"corpus-{seed}")
    vocab = sorted({"".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randrange(3, 9)))
                    for _ in range(6000)})
    texts: list[str] = []
    clusters, exact = [], []
    n_roots = n_docs // 12
    while len(texts) < n_docs:
        words = [rng.choice(vocab) for _ in range(rng.randrange(120, 180))]
        root = len(texts)
        texts.append(" ".join(words))
        if len(clusters) >= n_roots or len(texts) + 4 > n_docs:
            continue
        members, ex = [root], [root]
        for _ in range(rng.randrange(1, 3)):
            ex.append(len(texts))
            texts.append("  " + " ".join(w.upper() if rng.random() < 0.3 else w for w in words) + " ")
        for _ in range(rng.randrange(1, 3)):
            near = list(words)
            near[rng.randrange(len(near))] = rng.choice(vocab) + "x"
            members.append(len(texts))
            texts.append(" ".join(near))
        clusters.append(members + ex[1:])
        exact.append(ex)
    perm = list(range(len(texts)))
    rng.shuffle(perm)  # doc_id of text i is perm[i] + 1
    ids = [p + 1 for p in perm]
    pdf = pd.DataFrame({"doc_id": np.array(ids, dtype="int64"), "text": texts})
    pdf = pdf.sort_values("doc_id", kind="stable").reset_index(drop=True)
    truth = {
        "clusters": sorted(sorted(ids[i] for i in c) for c in clusters),
        "exact": sorted(sorted(ids[i] for i in e) for e in exact),
    }
    return pdf, truth


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of lower-cased, whitespace-normalized text."""
    toks = " ".join(text.strip().lower().split()).split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0
