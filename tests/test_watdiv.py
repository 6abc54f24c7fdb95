"""WatDiv-style SPARQL breadth: the reference's SPARQL stress signal is
the WatDiv bench (crux-bench/src/crux/bench/watdiv_crux.clj:22-27 —
load the generated e-commerce graph, run the stress-query workload,
compare results across engines). Here the same shape, in-sandbox:

- a deterministic WatDiv-like corpus (tests/watdiv.py,
  regenerated from the paper's public schema — no vendored files);
- 60+ query instances across the paper's template families — linear
  (L), star (S), snowflake (F), complex (C), property paths (P),
  OPTIONAL (O) — each template instantiated with several parameters,
  exactly how WatDiv turns templates into workloads;
- every instance runs through BOTH compilers: sparql_to_datalog and a
  HAND-COMPILED Datalog query (or, for OPTIONAL, a direct DataFrame
  computation) — full row-set agreement, not just counts.
"""

import pytest
from pyspark.sql import functions as F

from crux_spark import Catalog
from crux_spark.datalog import q
from crux_spark.sources.loaders import pivot_triples
from watdiv import WSDBM, watdiv_df

N_USERS = 300

U = lambda i: f"{WSDBM}User{i}"
P = lambda i: f"{WSDBM}Product{i}"
W = lambda i: f"{WSDBM}Website{i}"
C = lambda i: f"{WSDBM}Country{i}"
CAT = lambda i: f"{WSDBM}ProductCategory{i}"
T = lambda i: f"{WSDBM}Topic{i}"

PREFIXES = """
PREFIX wsdbm: <http://db.uwaterloo.ca/~galuc/wsdbm/>
PREFIX sorg: <http://schema.org/>
PREFIX foaf: <http://xmlns.com/foaf/>
PREFIX rev: <http://purl.org/stuff/rev#>
PREFIX gr: <http://purl.org/goodrelations/>
PREFIX og: <http://ogp.me/ns#>
PREFIX dc: <http://purl.org/dc/terms/>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
"""


@pytest.fixture(scope="module")
def wat(spark):
    tri = watdiv_df(spark, N_USERS)
    wide = pivot_triples(tri).localCheckpoint()
    cat = Catalog(spark)
    cat.add_documents("watdiv", wide)
    return cat, wide


def rows(df):
    return {tuple(r) for r in df.collect()}


def run_sparql(cat, text):
    from crux_spark.sources.sparql import sparql_to_datalog

    return rows(q(cat, sparql_to_datalog(PREFIXES + text)))


# --- template families -------------------------------------------------
# each entry: (name, param list, sparql builder, hand-compiled datalog
# builder). The datalog side is written INDEPENDENTLY against the
# pivoted attribute names — agreement between the two compilers is the
# assertion, the same correctness-by-agreement watdiv_crux.clj uses.

def l1(u):
    return (
        f"SELECT ?t WHERE {{ <{U(u)}> wsdbm:follows ?v . "
        "?v wsdbm:likes ?p . ?p dc:title ?t }",
        {
            "find": ["?t"],
            "where": [
                [U(u), ":follows", "?v"],
                ["?v", ":likes", "?p"],
                ["?p", ":title", "?t"],
            ],
        },
    )


def l2(c):
    return (
        f"SELECT ?u WHERE {{ ?u sorg:nationality <{C(c)}> . "
        f"?u wsdbm:likes ?p . ?p og:tag <{T(0)}> }}",
        {
            "find": ["?u"],
            "where": [
                ["?u", ":nationality", C(c)],
                ["?u", ":likes", "?p"],
                ["?p", ":tag", T(0)],
            ],
        },
    )


def l3(w):
    return (
        f"SELECT ?p WHERE {{ ?u wsdbm:subscribes <{W(w)}> . "
        "?u wsdbm:likes ?p }",
        {
            "find": ["?p"],
            "where": [
                ["?u", ":subscribes", W(w)],
                ["?u", ":likes", "?p"],
            ],
        },
    )


def l4(u):
    return (
        f"SELECT ?n WHERE {{ <{U(u)}> wsdbm:makesPurchase ?o . "
        "?o wsdbm:purchaseFor ?p . ?p dc:title ?n }",
        {
            "find": ["?n"],
            "where": [
                [U(u), ":makesPurchase", "?o"],
                ["?o", ":purchaseFor", "?p"],
                ["?p", ":title", "?n"],
            ],
        },
    )


def l5(u):
    return (
        f"SELECT ?w WHERE {{ <{U(u)}> wsdbm:follows ?v . "
        "?v wsdbm:friendOf ?w }",
        {
            "find": ["?w"],
            "where": [
                [U(u), ":follows", "?v"],
                ["?v", ":friendOf", "?w"],
            ],
        },
    )


def s1(cat_i):
    return (
        f'SELECT ?p ?t WHERE {{ ?p rdf:type <{CAT(cat_i)}> . '
        '?p dc:title ?t . ?p sorg:language "en" }',
        {
            "find": ["?p", "?t"],
            "where": [
                ["?p", ":type", CAT(cat_i)],
                ["?p", ":title", "?t"],
                ["?p", ":language", "en"],
            ],
        },
    )


def s2(c):
    return (
        'SELECT ?u ?a WHERE { ?u wsdbm:gender "female" . '
        f"?u foaf:age ?a . ?u sorg:nationality <{C(c)}> . "
        "FILTER(?a > 30) }",
        {
            "find": ["?u", "?a"],
            "where": [
                ["?u", ":gender", "female"],
                ["?u", ":age", "?a"],
                ["?u", ":nationality", C(c)],
                [[">", "?a", 30]],
            ],
        },
    )


def s3(p):
    return (
        f"SELECT ?o ?pr WHERE {{ ?o gr:includes <{P(p)}> . "
        "?o sorg:price ?pr . FILTER(?pr < 50) }",
        {
            "find": ["?o", "?pr"],
            "where": [
                ["?o", ":includes", P(p)],
                ["?o", ":price", "?pr"],
                [["<", "?pr", 50]],
            ],
        },
    )


def s4(p):
    return (
        f"SELECT ?r ?v WHERE {{ <{P(p)}> rev:hasReview ?r . "
        "?r rev:ratingValue ?v . FILTER(?v >= 8) }",
        {
            "find": ["?r", "?v"],
            "where": [
                [P(p), ":hasReview", "?r"],
                ["?r", ":ratingValue", "?v"],
                [[">=", "?v", 8]],
            ],
        },
    )


def f1(cat_i, c):
    return (
        f"SELECT ?t ?u WHERE {{ ?p rdf:type <{CAT(cat_i)}> . "
        "?p dc:title ?t . ?p rev:hasReview ?r . ?r rev:reviewer ?u . "
        f"?u sorg:nationality <{C(c)}> }}",
        {
            "find": ["?t", "?u"],
            "where": [
                ["?p", ":type", CAT(cat_i)],
                ["?p", ":title", "?t"],
                ["?p", ":hasReview", "?r"],
                ["?r", ":reviewer", "?u"],
                ["?u", ":nationality", C(c)],
            ],
        },
    )


def f2(lang):
    return (
        'SELECT ?u ?t WHERE { ?u wsdbm:gender "male" . '
        f'?u wsdbm:likes ?p . ?p sorg:language "{lang}" . '
        "?p dc:title ?t }",
        {
            "find": ["?u", "?t"],
            "where": [
                ["?u", ":gender", "male"],
                ["?u", ":likes", "?p"],
                ["?p", ":language", lang],
                ["?p", ":title", "?t"],
            ],
        },
    )


def f3(topic):
    return (
        f"SELECT ?ret ?t WHERE {{ ?ret gr:offers ?o . "
        f"?o gr:includes ?p . ?p og:tag <{T(topic)}> . ?p dc:title ?t }}",
        {
            "find": ["?ret", "?t"],
            "where": [
                ["?ret", ":offers", "?o"],
                ["?o", ":includes", "?p"],
                ["?p", ":tag", T(topic)],
                ["?p", ":title", "?t"],
            ],
        },
    )


def c1(c):
    return (
        "SELECT ?u ?w WHERE { ?u wsdbm:follows ?v . ?v wsdbm:likes ?p . "
        "?p rev:hasReview ?r . ?r rev:reviewer ?w . "
        f"?w sorg:nationality <{C(c)}> }}",
        {
            "find": ["?u", "?w"],
            "where": [
                ["?u", ":follows", "?v"],
                ["?v", ":likes", "?p"],
                ["?p", ":hasReview", "?r"],
                ["?r", ":reviewer", "?w"],
                ["?w", ":nationality", C(c)],
            ],
        },
    )


def c2(cat_i):
    return (
        "SELECT ?u WHERE { "
        f"{{ ?u wsdbm:likes ?p . ?p rdf:type <{CAT(cat_i)}> }} UNION "
        f"{{ ?u wsdbm:makesPurchase ?pu . ?pu wsdbm:purchaseFor ?p2 . "
        f"?p2 rdf:type <{CAT(cat_i)}> }} }}",
        {
            "find": ["?u"],
            "where": [
                [
                    "or-join",
                    ["?u"],
                    [
                        "and",
                        ["?u", ":likes", "?p"],
                        ["?p", ":type", CAT(cat_i)],
                    ],
                    [
                        "and",
                        ["?u", ":makesPurchase", "?pu"],
                        ["?pu", ":purchaseFor", "?p2"],
                        ["?p2", ":type", CAT(cat_i)],
                    ],
                ],
            ],
        },
    )


def c3(g):
    return (
        f'SELECT ?u ?v WHERE {{ ?u wsdbm:gender "{g}" . ?u foaf:age ?a . '
        "?u wsdbm:follows ?v . ?v foaf:age ?b . FILTER(?b > ?a) }",
        {
            "find": ["?u", "?v"],
            "where": [
                ["?u", ":gender", g],
                ["?u", ":age", "?a"],
                ["?u", ":follows", "?v"],
                ["?v", ":age", "?b"],
                [[">", "?b", "?a"]],
            ],
        },
    )


def p1(u):
    return (
        f"SELECT ?n WHERE {{ <{U(u)}> wsdbm:follows+ ?v . "
        "?v foaf:givenName ?n }",
        {
            "find": ["?n"],
            "where": [
                ["follows-PLUS", U(u), "?v"],
                ["?v", ":givenName", "?n"],
            ],
            "rules": [
                [["follows-PLUS", "?x", "?y"], ["?x", ":follows", "?y"]],
                [
                    ["follows-PLUS", "?x", "?y"],
                    ["?x", ":follows", "?z"],
                    ["follows-PLUS", "?z", "?y"],
                ],
            ],
        },
    )


TEMPLATES = (
    [("L1", l1, (u,)) for u in (0, 1, 2, 3, 4)]
    + [("L2", l2, (c,)) for c in (0, 1, 2, 3)]
    + [("L3", l3, (w,)) for w in (0, 1, 2)]
    + [("L4", l4, (u,)) for u in (0, 1, 2, 5)]
    + [("L5", l5, (u,)) for u in (0, 1, 3, 7)]
    + [("S1", s1, (i,)) for i in (0, 1, 2, 3)]
    + [("S2", s2, (c,)) for c in (0, 1, 2, 3)]
    + [("S3", s3, (p,)) for p in (0, 1, 2, 3)]
    + [("S4", s4, (p,)) for p in (0, 1, 2, 3)]
    + [("F1", f1, (i, c)) for i, c in ((0, 0), (0, 1), (1, 0), (2, 2))]
    + [("F2", f2, (lg,)) for lg in ("en", "de", "fr")]
    + [("F3", f3, (t,)) for t in (0, 1, 2, 3)]
    + [("C1", c1, (c,)) for c in (0, 1, 2)]
    + [("C2", c2, (i,)) for i in (0, 1, 2, 3)]
    + [("C3", c3, (g,)) for g in ("male", "female")]
    + [("P1", p1, (u,)) for u in (0, 3, 9)]
)

_IDS = [f"{fam}-{'-'.join(map(str, args))}" for fam, _, args in TEMPLATES]


@pytest.mark.parametrize("fam,builder,args", TEMPLATES, ids=_IDS)
def test_sparql_datalog_agreement(wat, fam, builder, args):
    cat, _ = wat
    sparql, datalog = builder(*args)
    got = run_sparql(cat, sparql)
    exp = rows(q(cat, datalog))
    assert got == exp, f"{fam}{args}: sparql={len(got)} datalog={len(exp)}"


def test_workload_is_selective_not_degenerate(wat):
    """The corpus must make the workload interesting: a healthy majority
    of instances non-empty (skewed hubs guarantee hits), and the
    families must not all collapse to the same cardinality."""
    cat, _ = wat
    sizes = {}
    for (fam, builder, args), qid in zip(TEMPLATES, _IDS):
        sparql, _ = builder(*args)
        sizes[qid] = len(run_sparql(cat, sparql))
    nonempty = sum(1 for v in sizes.values() if v > 0)
    assert nonempty >= int(0.6 * len(sizes)), sizes
    assert len(set(sizes.values())) >= 8, sizes


# --- OPTIONAL family: verified against a direct DataFrame computation --

@pytest.mark.parametrize("cat_i", [0, 1, 2, 3])
def test_optional_caption(wat, cat_i):
    cat, wide = wat
    got = run_sparql(
        cat,
        f"SELECT ?t ?c WHERE {{ ?p rdf:type <{CAT(cat_i)}> . "
        "?p dc:title ?t OPTIONAL { ?p sorg:caption ?c } }",
    )
    exp = rows(
        wide.filter(F.col("type") == CAT(cat_i)).select("title", "caption")
    )
    assert got == exp
