"""Deterministic WatDiv-like RDF stress-corpus generator.

The reference's SPARQL breadth signal is the WatDiv bench: it loads the
generated e-commerce dataset (10M triples at its scale) and runs the
stress-query workload, comparing result counts across engines
(crux-bench/src/crux/bench/watdiv_crux.clj:22-27).

This module regenerates that SHAPE from the published schema alone: the
WatDiv paper (G. Aluç, O. Hartig, M. T. Özsu, K. Daudjee,
"Diversified Stress Testing of RDF Data Management Systems", ISWC 2014)
describes an e-commerce graph over the wsdbm vocabulary — users,
products, reviews, offers, retailers, purchases, websites, cities —
with skewed association degrees and deliberately INCOMPLETE attributes
(not every user has an age; not every product has a caption), which is
what makes star/linear/snowflake query templates selective in
interesting ways. No WatDiv code, query files, or data files are used
or vendored; entities and predicates follow the paper's public schema,
values come from seeded PRNGs so every run of a given scale is
byte-identical.

Generation is organized as independent (family, index-block) units,
each seeded by crc32(seed:family:block) and run as one Spark task, so
the corpus is the same bytes at every scale and no scale serializes a
driver-side triple list.

Output is an (e, a, v, v_type) triple DataFrame — the same shape
read_ntriples produces — so it feeds pivot_triples + Catalog +
sparql_to_datalog unchanged.
"""

from __future__ import annotations

import random
import sys
import zlib

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession

# Python workers do not have tests/ on their path, so the generation
# tasks ship this module's functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

WSDBM = "http://db.uwaterloo.ca/~galuc/wsdbm/"
SORG = "http://schema.org/"
FOAF = "http://xmlns.com/foaf/"
REV = "http://purl.org/stuff/rev#"
GR = "http://purl.org/goodrelations/"
OG = "http://ogp.me/ns#"
DC = "http://purl.org/dc/terms/"
GN = "http://www.geonames.org/ontology#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_GIVEN = ["alice", "bob", "carol", "dave", "erin", "frank", "grace",
          "heidi", "ivan", "judy", "mallory", "oscar", "peggy", "sybil"]
_FAMILY = ["smith", "jones", "chen", "garcia", "mueller", "tanaka",
           "okafor", "rossi", "novak", "larsen"]
_LANGS = ["en", "de", "fr", "ja", "pt"]
_RATINGS_CR = ["G", "PG", "PG-13", "R"]
_WORDS = ["quantum", "river", "garden", "silver", "rapid", "ancient",
          "bright", "cloud", "ember", "forest", "granite", "harbor",
          "island", "jade", "copper", "lunar", "meadow", "north",
          "orchid", "prairie"]

_BLOCK = 20_000  # indexes per generation unit


def _skew(rng: random.Random, n: int) -> int:
    """Skewed index in [0, n): quadratic bias toward low ids — the
    paper's zipfian association-degree stand-in (hubs get most edges)."""
    return int(n * rng.random() ** 2)


def _counts(n_users: int) -> dict:
    """Entity counts derived from the user-count knob (paper Table 2
    proportions, rounded for small scales)."""
    return {
        "user": n_users,
        "product": max(4, n_users // 2),
        "review": max(4, (3 * n_users) // 2),
        "offer": n_users,
        "retailer": max(2, n_users // 40),
        "website": max(2, n_users // 10),
        "purchase": n_users,
        "country": 10,
        "city": 40,
        "category": 12,
        "topic": 20,
    }


def _ent(kind: str, i: int) -> str:
    return f"{WSDBM}{kind}{i}"


def _gen_block(family: str, lo: int, hi: int, c: dict, seed: int) -> list[tuple]:
    """Triples for indexes [lo, hi) of one entity family. The PRNG is
    seeded by crc32(seed:family:lo) — stable across processes (python's
    str hash is per-process randomized, so never seed from a tuple)."""
    rng = random.Random(zlib.crc32(f"{seed}:{family}:{lo}".encode()))
    out: list[tuple] = []

    def t(e, a, v, vt="iri"):
        out.append((e, a, v, vt))

    if family == "city":
        for i in range(lo, hi):
            t(_ent("City", i), f"{GN}parentCountry",
              _ent("Country", i % c["country"]))
    elif family == "user":
        for i in range(lo, hi):
            u = _ent("User", i)
            t(u, RDF_TYPE, f"{WSDBM}User")
            t(u, f"{WSDBM}gender", rng.choice(["male", "female"]), "string")
            t(u, f"{SORG}nationality", _ent("Country", _skew(rng, c["country"])))
            t(u, f"{FOAF}givenName", rng.choice(_GIVEN), "string")
            t(u, f"{FOAF}familyName", rng.choice(_FAMILY), "string")
            if rng.random() < 0.7:  # attribute incompleteness (paper §3.1)
                t(u, f"{FOAF}age", str(rng.randint(18, 80)), "long")
            if rng.random() < 0.5:
                t(u, f"{FOAF}homepage", f"http://example.org/u{i}")
            for _ in range(rng.randint(0, 8)):
                t(u, f"{WSDBM}follows", _ent("User", _skew(rng, c["user"])))
            for _ in range(rng.randint(0, 4)):
                t(u, f"{WSDBM}friendOf", _ent("User", rng.randrange(c["user"])))
            for _ in range(rng.randint(0, 6)):
                t(u, f"{WSDBM}likes", _ent("Product", _skew(rng, c["product"])))
            for _ in range(rng.randint(0, 2)):
                t(u, f"{WSDBM}subscribes",
                  _ent("Website", rng.randrange(c["website"])))
    elif family == "product":
        for i in range(lo, hi):
            p = _ent("Product", i)
            t(p, RDF_TYPE, _ent("ProductCategory", _skew(rng, c["category"])))
            t(p, f"{DC}title",
              f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {i}", "string")
            t(p, f"{SORG}language", rng.choice(_LANGS), "string")
            if rng.random() < 0.6:
                t(p, f"{SORG}caption",
                  f"caption {rng.choice(_WORDS)}", "string")
            if rng.random() < 0.4:
                t(p, f"{SORG}description",
                  f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} product",
                  "string")
            if rng.random() < 0.3:
                t(p, f"{SORG}contentRating", rng.choice(_RATINGS_CR), "string")
            for _ in range(rng.randint(0, 3)):
                t(p, f"{OG}tag", _ent("Topic", _skew(rng, c["topic"])))
    elif family == "review":
        for i in range(lo, hi):
            r = _ent("Review", i)
            p = _ent("Product", _skew(rng, c["product"]))
            t(p, f"{REV}hasReview", r)
            t(r, f"{REV}reviewer", _ent("User", rng.randrange(c["user"])))
            t(r, f"{REV}ratingValue", str(rng.randint(1, 10)), "long")
            t(r, f"{REV}text",
              f"{rng.choice(_WORDS)} review {rng.choice(_WORDS)}", "string")
    elif family == "offer":
        for i in range(lo, hi):
            o = _ent("Offer", i)
            t(_ent("Retailer", rng.randrange(c["retailer"])), f"{GR}offers", o)
            t(o, f"{GR}includes", _ent("Product", _skew(rng, c["product"])))
            t(o, f"{SORG}price", f"{rng.uniform(1, 100):.2f}", "double")
            t(o, f"{GR}validThrough",
              f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
              "string")
    elif family == "website":
        for i in range(lo, hi):
            w = _ent("Website", i)
            t(w, f"{WSDBM}hits", str(rng.randint(10, 100000)), "long")
            t(w, f"{FOAF}homepage", f"http://example.org/site{i}")
    elif family == "purchase":
        for i in range(lo, hi):
            pu = _ent("Purchase", i)
            t(_ent("User", _skew(rng, c["user"])), f"{WSDBM}makesPurchase", pu)
            t(pu, f"{WSDBM}purchaseFor",
              _ent("Product", _skew(rng, c["product"])))
            t(pu, f"{WSDBM}purchaseDate",
              f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
              "string")
    else:
        raise ValueError(f"unknown family {family!r}")
    return out


_GEN_FAMILIES = ("city", "user", "product", "review", "offer",
                 "website", "purchase")


def _blocks(n_users: int) -> list[tuple[str, int, int]]:
    c = _counts(n_users)
    tasks = []
    for fam in _GEN_FAMILIES:
        n = c[fam]
        for lo in range(0, n, _BLOCK):
            tasks.append((fam, lo, min(lo + _BLOCK, n)))
    return tasks


def watdiv_df(spark: SparkSession, n_users: int = 300, seed: int = 7) -> DataFrame:
    """The generated corpus as an (e, a, v, v_type) DataFrame ready for
    pivot_triples, one task per (family, block)."""
    c = _counts(n_users)
    tasks = _blocks(n_users)
    rdd = (
        spark.sparkContext.parallelize(tasks, len(tasks))
        .flatMap(lambda t: _gen_block(t[0], t[1], t[2], c, seed))
    )
    return spark.createDataFrame(rdd, "e string, a string, v string, v_type string")
