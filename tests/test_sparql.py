"""SPARQL -> Datalog conformance, mirroring the reference's suite
(crux-test/test/crux/sparql_test.clj over the Jena-tutorial vcard data).

Divergences from the reference asserted here on purpose:
- OPTIONAL binds missing values as NULL (reference uses the sentinel
  :crux.sparql/optional).
- Entity ids are the full IRI strings (reference keywordizes IRIs).
"""

import pytest

from crux_spark import Catalog
from crux_spark.datalog import q
from crux_spark.sources.loaders import pivot_triples, read_ntriples
from crux_spark.sources.sparql import sparql_to_datalog

VCARD_NT = """\
<http://somewhere/MattJones/>  <http://www.w3.org/2001/vcard-rdf/3.0#FN>   "Matt Jones" .
<http://somewhere/MattJones/>  <http://www.w3.org/2001/vcard-rdf/3.0#N>    _:b0 .
_:b0  <http://www.w3.org/2001/vcard-rdf/3.0#Family> "Jones" .
_:b0  <http://www.w3.org/2001/vcard-rdf/3.0#Given>  "Matthew" .
<http://somewhere/RebeccaSmith/> <http://www.w3.org/2001/vcard-rdf/3.0#FN>    "Becky Smith" .
<http://somewhere/RebeccaSmith/> <http://somewhere/peopleInfo#age>            "23"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://somewhere/RebeccaSmith/> <http://www.w3.org/2001/vcard-rdf/3.0#N>     _:b1 .
_:b1 <http://www.w3.org/2001/vcard-rdf/3.0#Family> "Smith" .
_:b1 <http://www.w3.org/2001/vcard-rdf/3.0#Given>  "Rebecca" .
<http://somewhere/JohnSmith/>    <http://www.w3.org/2001/vcard-rdf/3.0#FN>    "John Smith" .
<http://somewhere/JohnSmith/>    <http://somewhere/peopleInfo#age>            "25"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://somewhere/JohnSmith/>    <http://www.w3.org/2001/vcard-rdf/3.0#N>     _:b2 .
_:b2 <http://www.w3.org/2001/vcard-rdf/3.0#Family> "Smith" .
_:b2 <http://www.w3.org/2001/vcard-rdf/3.0#Given> "John"  .
<http://somewhere/SarahJones/>   <http://www.w3.org/2001/vcard-rdf/3.0#FN>    "Sarah Jones" .
<http://somewhere/SarahJones/>   <http://www.w3.org/2001/vcard-rdf/3.0#N>     _:b3 .
_:b3 <http://www.w3.org/2001/vcard-rdf/3.0#Family>  "Jones" .
_:b3 <http://www.w3.org/2001/vcard-rdf/3.0#Given>   "Sarah" .
"""

JOHN = "http://somewhere/JohnSmith/"
BECKY = "http://somewhere/RebeccaSmith/"
SARAH = "http://somewhere/SarahJones/"
MATT = "http://somewhere/MattJones/"


@pytest.fixture(scope="module")
def vcard_cat(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("vcard") / "vc-db-1.nt"
    path.write_text(VCARD_NT)
    tri = read_ntriples(spark, str(path))
    wide = pivot_triples(tri).localCheckpoint()
    cat = Catalog(spark)
    cat.add_documents("vcard", wide)
    return cat


def run(cat, sparql):
    return {tuple(r) for r in q(cat, sparql_to_datalog(sparql)).collect()}


def test_literal_object(vcard_cat):
    assert run(
        vcard_cat,
        'SELECT ?x WHERE { ?x  <http://www.w3.org/2001/vcard-rdf/3.0#FN>  "John Smith" }',
    ) == {(JOHN,)}


def test_var_object(vcard_cat):
    assert run(
        vcard_cat,
        "SELECT ?x ?fname WHERE {?x  <http://www.w3.org/2001/vcard-rdf/3.0#FN>  ?fname}",
    ) == {
        (BECKY, "Becky Smith"),
        (SARAH, "Sarah Jones"),
        (JOHN, "John Smith"),
        (MATT, "Matt Jones"),
    }


def test_join(vcard_cat):
    assert run(
        vcard_cat,
        """
        SELECT ?givenName
        WHERE
          { ?y  <http://www.w3.org/2001/vcard-rdf/3.0#Family>  "Smith" .
            ?y  <http://www.w3.org/2001/vcard-rdf/3.0#Given>  ?givenName .
          }""",
    ) == {("John",), ("Rebecca",)}


def test_regex_filter_with_prefix(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?g
        WHERE
        { ?y vcard:Given ?g .
          FILTER regex(?g, "r", "i") }""",
    ) == {("Rebecca",), ("Sarah",)}


def test_numeric_filter(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX info: <http://somewhere/peopleInfo#>
        SELECT ?resource
        WHERE
          {
            ?resource info:age ?age .
            FILTER (?age >= 24)
          }""",
    ) == {(JOHN,)}


def test_optional(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX info:    <http://somewhere/peopleInfo#>
        PREFIX vcard:   <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?name ?age
        WHERE
        {
            ?person vcard:FN  ?name .
            OPTIONAL { ?person info:age ?age }
        }""",
    ) == {
        ("Becky Smith", 23),
        ("Sarah Jones", None),
        ("John Smith", 25),
        ("Matt Jones", None),
    }


def test_inner_join_drops_missing(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX info:   <http://somewhere/peopleInfo#>
        PREFIX vcard:  <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?name ?age
        WHERE
        {
            ?person vcard:FN  ?name .
            ?person info:age  ?age .
        }""",
    ) == {("Becky Smith", 23), ("John Smith", 25)}


def test_optional_with_filter(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX info:        <http://somewhere/peopleInfo#>
        PREFIX vcard:      <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?name ?age
        WHERE
        {
            ?person vcard:FN  ?name .
            OPTIONAL { ?person info:age ?age . FILTER ( ?age > 24 ) }
        }""",
    ) == {
        ("Sarah Jones", None),
        ("John Smith", 25),
        ("Matt Jones", None),
    }


def test_union(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?n
        WHERE
        { { ?x vcard:Family "Smith" . ?x vcard:Given ?n }
          UNION
          { ?x vcard:FN ?n . FILTER regex(?n, "^Sarah") } }""",
    ) == {("John",), ("Rebecca",), ("Sarah Jones",)}


def test_not_exists(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX info:  <http://somewhere/peopleInfo#>
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?name
        WHERE
        {
            ?person vcard:FN ?name .
            FILTER NOT EXISTS { ?person info:age ?age }
        }""",
    ) == {("Sarah Jones",), ("Matt Jones",)}


def test_order_limit(vcard_cat):
    rows = q(
        vcard_cat,
        sparql_to_datalog(
            """
            PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
            SELECT ?fname
            WHERE { ?x vcard:FN ?fname }
            ORDER BY DESC(?fname) LIMIT 2"""
        ),
    ).collect()
    assert [r[0] for r in rows] == ["Sarah Jones", "Matt Jones"]


def test_semicolon_and_comma_syntax(vcard_cat):
    assert run(
        vcard_cat,
        """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?g
        WHERE { ?y vcard:Family "Smith" ; vcard:Given ?g . }""",
    ) == {("John",), ("Rebecca",)}


KNOWS_NT = """\
<http://ex/A> <http://ex/knows> <http://ex/B> .
<http://ex/B> <http://ex/knows> <http://ex/C> .
<http://ex/C> <http://ex/knows> <http://ex/D> .
<http://ex/A> <http://ex/name> "Ann" .
<http://ex/B> <http://ex/name> "Bob" .
<http://ex/C> <http://ex/name> "Cid" .
<http://ex/D> <http://ex/name> "Dan" .
"""


def test_property_path_plus(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("knows") / "knows.nt"
    path.write_text(KNOWS_NT)
    cat = Catalog(spark)
    cat.add_documents(
        "knows", pivot_triples(read_ntriples(spark, str(path))).localCheckpoint()
    )
    # transitive closure via `knows+` (reference ArbitraryLengthPath ->
    # <pred>-PLUS recursive rule, sparql.clj:21-28)
    got = run(
        cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/A> ex:knows+ ?y . ?y ex:name ?n }""",
    )
    assert got == {("Bob",), ("Cid",), ("Dan",)}


@pytest.fixture(scope="module")
def knows_cat(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("knows2") / "knows.nt"
    path.write_text(KNOWS_NT)
    cat = Catalog(spark)
    cat.add_documents(
        "knows", pivot_triples(read_ntriples(spark, str(path))).localCheckpoint()
    )
    return cat


def test_property_path_star(knows_cat):
    # p* = p+ UNION zero-length (reference ZeroLengthPath, sparql.clj:257,
    # min-length 0 at :286-290): A knows* ?y includes A itself
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/A> ex:knows* ?y . ?y ex:name ?n }""",
    )
    assert got == {("Ann",), ("Bob",), ("Cid",), ("Dan",)}


def test_property_path_star_between_vars(knows_cat):
    # ?x bound by another pattern; ?x knows* ?y includes the reflexive row
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { ?x ex:name "Cid" . ?x ex:knows* ?y . ?y ex:name ?n }""",
    )
    assert got == {("Cid",), ("Dan",)}


def test_property_path_plus_variable_predicate(knows_cat):
    """`?p+` over a VARIABLE predicate (reference compiles RDF4J's
    ArbitraryLengthPath generally, labs/crux-rdf sparql.clj:21-28): one
    shared 3-ary closure rule over the EAV scan, closure computed per
    predicate binding."""
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?p ?n
        WHERE { <http://ex/A> ?p+ ?y . ?y ex:name ?n }""",
    )
    # :knows reaches B, C, D transitively; :name reaches only the
    # literal "Ann" (no onward edges) which has no ex:name — so the only
    # other predicate closing onto a named node is none here
    assert got == {(":knows", "Bob"), (":knows", "Cid"), (":knows", "Dan")}


def test_property_path_star_variable_predicate(knows_cat):
    """`?p*` over a VARIABLE predicate: per-predicate closure UNION the
    zero-length path, with ?p ranging over the EAV predicate domain in
    the zero-length branch (reference: RDF4J ZeroLengthPath with a path
    variable, sparql.clj:257 + :286-290). A ?p* ?y therefore includes
    the reflexive row (A, A) for EVERY predicate in the data."""
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?p ?n
        WHERE { <http://ex/A> ?p* ?y . ?y ex:name ?n }""",
    )
    assert got == {
        (":knows", "Bob"),
        (":knows", "Cid"),
        (":knows", "Dan"),
        # zero-length: ?y = A (named "Ann"), once per domain predicate
        (":knows", "Ann"),
        (":name", "Ann"),
    }


def test_sequence_path(knows_cat):
    # p1/p2 chains through a fresh intermediate variable
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/A> ex:knows/ex:name ?n }""",
    )
    assert got == {("Bob",)}


def test_sequence_path_with_plus(knows_cat):
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/A> ex:knows+/ex:name ?n }""",
    )
    assert got == {("Bob",), ("Cid",), ("Dan",)}


def test_minus(vcard_cat):
    # MINUS removes compatible solutions (shared var ?x) — SPARQL 1.1 §8.3
    got = run(
        vcard_cat,
        """
        PREFIX vc: <http://www.w3.org/2001/vcard-rdf/3.0#>
        PREFIX info: <http://somewhere/peopleInfo#>
        SELECT ?fn
        WHERE { ?x vc:FN ?fn . MINUS { ?x info:age ?a } }""",
    )
    assert got == {("Matt Jones",), ("Sarah Jones",)}


def test_minus_disjoint_removes_nothing(vcard_cat):
    # MINUS pattern sharing no variables removes nothing (SPARQL 1.1 §8.3)
    got = run(
        vcard_cat,
        """
        PREFIX vc: <http://www.w3.org/2001/vcard-rdf/3.0#>
        PREFIX info: <http://somewhere/peopleInfo#>
        SELECT ?fn
        WHERE { ?x vc:FN ?fn . MINUS { ?y info:age ?a } }""",
    )
    assert len(got) == 4


def test_filter_arithmetic(vcard_cat):
    # '-' and '/' are FILTER operators (were unreachable: not in the
    # tokenizer's op class)
    got = run(
        vcard_cat,
        """
        PREFIX info: <http://somewhere/peopleInfo#>
        SELECT ?x
        WHERE { ?x info:age ?a . FILTER(?a - 1 > 23) }""",
    )
    assert got == {(JOHN,)}
    got2 = run(
        vcard_cat,
        """
        PREFIX info: <http://somewhere/peopleInfo#>
        SELECT ?x
        WHERE { ?x info:age ?a . FILTER(?a / 5 >= 5) }""",
    )
    assert got2 == {(JOHN,)}


# --- BIND / VALUES / IN / built-in fns (sparql.clj Extension,
# BindingSetAssignment, ListMemberOperator, FunctionCall/SameTerm) ---


def test_bind_expression(vcard_cat):
    got = run(vcard_cat, """
    PREFIX info: <http://somewhere/peopleInfo#>
    SELECT ?g ?next WHERE {
      ?p info:age ?age .
      BIND(?age + 1 AS ?next)
      ?p <http://www.w3.org/2001/vcard-rdf/3.0#FN> ?g .
    }""")
    assert got == {("Becky Smith", 24), ("John Smith", 26)}


def test_values_single_var(vcard_cat):
    got = run(vcard_cat, """
    SELECT ?name WHERE {
      VALUES ?name { "Smith" "Nope" }
      ?b <http://www.w3.org/2001/vcard-rdf/3.0#Family> ?name .
    }""")
    assert got == {("Smith",)}


def test_values_multi_var(vcard_cat):
    got = run(vcard_cat, """
    SELECT ?fam ?given WHERE {
      VALUES (?fam ?given) { ("Smith" "John") ("Jones" "Sarah") ("Smith" "Zed") }
      ?b <http://www.w3.org/2001/vcard-rdf/3.0#Family> ?fam .
      ?b <http://www.w3.org/2001/vcard-rdf/3.0#Given> ?given .
    }""")
    assert got == {("Smith", "John"), ("Jones", "Sarah")}


def test_filter_in_and_not_in(vcard_cat):
    base = """
    SELECT ?g WHERE {
      ?v <http://www.w3.org/2001/vcard-rdf/3.0#Given> ?g .
      FILTER(?g %s ("John", "Rebecca"))
    }"""
    assert run(vcard_cat, base % "IN") == {("John",), ("Rebecca",)}
    assert run(vcard_cat, base % "NOT IN") == {("Matthew",), ("Sarah",)}


def test_filter_string_fns(vcard_cat):
    got = run(vcard_cat, """
    SELECT ?fn WHERE {
      ?v <http://www.w3.org/2001/vcard-rdf/3.0#FN> ?fn .
      FILTER(STRSTARTS(?fn, "J") || STRENDS(?fn, "Jones"))
    }""")
    assert got == {("John Smith",), ("Sarah Jones",), ("Matt Jones",)}

    got = run(vcard_cat, """
    SELECT ?fn WHERE {
      ?v <http://www.w3.org/2001/vcard-rdf/3.0#FN> ?fn .
      FILTER(CONTAINS(LCASE(?fn), "smith") && STRLEN(?fn) > 10)
    }""")
    assert got == {("Becky Smith",)}


def test_sameterm(vcard_cat):
    got = run(vcard_cat, """
    SELECT ?v WHERE {
      ?v <http://www.w3.org/2001/vcard-rdf/3.0#Family> ?f .
      ?w <http://www.w3.org/2001/vcard-rdf/3.0#Family> ?g .
      FILTER(SAMETERM(?f, ?g) && ?v != ?w)
    }""")
    # every person shares a family name with exactly one other
    assert len(got) == 4


def test_anonymous_blank_node_union(vcard_cat):
    # labs sparql_test shape: { [] p1 ?n } UNION { [] p2 ?n } — anonymous
    # blank subjects become fresh vars (unknown attrs raise by catalog
    # design, so both branches use stored predicates here)
    got = run(vcard_cat, """
    PREFIX vCard: <http://www.w3.org/2001/vcard-rdf/3.0#>
    SELECT ?name WHERE {
      { [] vCard:Given ?name } UNION { [] vCard:FN ?name }
    }""")
    assert got == {
        ("Matthew",), ("Rebecca",), ("John",), ("Sarah",),
        ("Matt Jones",), ("Becky Smith",), ("John Smith",), ("Sarah Jones",),
    }


def test_language_tagged_literal(vcard_cat):
    got = run(vcard_cat, """
    SELECT ?v WHERE { ?v <http://www.w3.org/2001/vcard-rdf/3.0#Given> "John"@en }""")
    # the language tag is dropped: "John"@en matches the stored "John"
    assert len(got) == 1 and next(iter(got))[0].startswith("_:")


def test_bind_concat_and_select_expression(vcard_cat):
    q1 = """
    PREFIX v: <http://www.w3.org/2001/vcard-rdf/3.0#>
    SELECT ?name WHERE {
      ?p v:Given ?g ; v:Family ?s
      BIND(CONCAT(?g, " ", ?s) AS ?name)
    }"""
    q2 = """
    PREFIX v: <http://www.w3.org/2001/vcard-rdf/3.0#>
    SELECT ( CONCAT(?g, " ", ?s) AS ?name )
    WHERE { ?p v:Given ?g ; v:Family ?s }"""
    expect = {("Matthew Jones",), ("Rebecca Smith",), ("John Smith",), ("Sarah Jones",)}
    assert run(vcard_cat, q1) == expect
    assert run(vcard_cat, q2) == expect


def test_bound_with_optional(vcard_cat):
    # negation-by-failure: people WITHOUT an age (FILTER(!BOUND(?age)))
    base = """
    PREFIX info: <http://somewhere/peopleInfo#>
    SELECT ?fn WHERE {
      ?p <http://www.w3.org/2001/vcard-rdf/3.0#FN> ?fn .
      OPTIONAL { ?p info:age ?age }
      FILTER(%sBOUND(?age))
    }"""
    assert run(vcard_cat, base % "!") == {("Matt Jones",), ("Sarah Jones",)}
    assert run(vcard_cat, base % "") == {("Becky Smith",), ("John Smith",)}


def test_property_path_star_variable_predicate_both_unbound(knows_cat):
    """`?x ?p* ?y` with BOTH endpoints unbound: the zero-length branch
    must GROUND ?x over the graph's term domain (subjects ∪ objects of
    the predicate's edges — RDF4J ZeroLengthPath grounds from the graph,
    never from an outside binding that may not exist). Regression: the
    old compile copied ?y from ?x but left ?x unbound."""
    got = run(
        knows_cat,
        """
        PREFIX ex: <http://ex/>
        SELECT ?p ?x ?n
        WHERE { ?x ?p* ?y . ?y ex:name ?n }""",
    )
    A, B, C, D = (f"http://ex/{x}" for x in "ABCD")
    assert got == {
        # ?p+ closure (only :knows closes onto named nodes)
        (":knows", A, "Bob"), (":knows", A, "Cid"), (":knows", A, "Dan"),
        (":knows", B, "Cid"), (":knows", B, "Dan"), (":knows", C, "Dan"),
        # zero-length: x = y over each predicate's subject∪object domain
        (":knows", A, "Ann"), (":knows", B, "Bob"),
        (":knows", C, "Cid"), (":knows", D, "Dan"),
        (":name", A, "Ann"), (":name", B, "Bob"),
        (":name", C, "Cid"), (":name", D, "Dan"),
    }


# -- SPARQL 1.1 aggregates (superset of the reference: labs sparql.clj
# translates no aggregates; these ride the Datalog find-aggregate
# surface, so GROUP BY keys == the implicit Datalog grouping) ----------


def test_group_by_count(vcard_cat):
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (COUNT(?g) AS ?n)
        WHERE { ?n0 vcard:Family ?family . ?n0 vcard:Given ?g }
        GROUP BY ?family
    """)
    assert got == {("Jones", 2), ("Smith", 2)}


def test_group_by_count_star_and_order(vcard_cat):
    got = q(vcard_cat, sparql_to_datalog("""
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (COUNT(*) AS ?n)
        WHERE { ?n0 vcard:Family ?family }
        GROUP BY ?family
        ORDER BY DESC(?n) ?family
        LIMIT 1
    """)).collect()
    assert [tuple(r) for r in got] == [("Jones", 2)]


def test_global_aggregates_min_max_avg_sum(vcard_cat):
    got = run(vcard_cat, """
        PREFIX info: <http://somewhere/peopleInfo#>
        SELECT (MIN(?age) AS ?lo) (MAX(?age) AS ?hi)
               (SUM(?age) AS ?total) (AVG(?age) AS ?mean)
        WHERE { ?p info:age ?age }
    """)
    assert got == {(23, 25, 48, 24.0)}


def test_count_distinct(vcard_cat):
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT (COUNT(DISTINCT ?family) AS ?n)
        WHERE { ?b vcard:Family ?family }
    """)
    assert got == {(2,)}


def test_group_by_validation_errors(vcard_cat):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="GROUP BY vars must equal"):
        sparql_to_datalog("""
            PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
            SELECT ?family (COUNT(?g) AS ?n)
            WHERE { ?b vcard:Family ?family . ?b vcard:Given ?g }
            GROUP BY ?g
        """)
    with _pytest.raises(ValueError, match="HAVING requires an aggregate"):
        sparql_to_datalog("""
            PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
            SELECT ?family
            WHERE { ?b vcard:Family ?family }
            HAVING (?family > 1)
        """)
    with _pytest.raises(ValueError, match="GROUP BY without"):
        sparql_to_datalog("""
            PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
            SELECT ?family WHERE { ?b vcard:Family ?family }
            GROUP BY ?family
        """)


def test_group_concat_and_sample(vcard_cat):
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (GROUP_CONCAT(?g; SEPARATOR=", ") AS ?members)
               (SAMPLE(?g) AS ?one)
        WHERE { ?b vcard:Family ?family . ?b vcard:Given ?g }
        GROUP BY ?family
    """)
    # GROUP_CONCAT sorts for determinism; SAMPLE is the deterministic min
    assert got == {
        ("Jones", "Matthew, Sarah", "Matthew"),
        ("Smith", "John, Rebecca", "John"),
    }


def test_group_concat_default_separator(vcard_cat):
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT (GROUP_CONCAT(?f) AS ?fams)
        WHERE { ?b vcard:Family ?f }
    """)
    assert got == {("Jones Jones Smith Smith",)}


def test_having_on_alias(vcard_cat):
    """HAVING compiles to the Datalog subquery pred with relation
    binding + outer predicates (there is no native post-aggregate
    filter; query.clj:973-986 is the nesting the reference itself would
    need)."""
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (COUNT(?g) AS ?n)
        WHERE { ?b vcard:Family ?family . ?b vcard:Given ?g }
        GROUP BY ?family
        HAVING (?n > 1)
    """)
    assert got == {("Jones", 2), ("Smith", 2)}
    got2 = run(vcard_cat, """
        PREFIX info: <http://somewhere/peopleInfo#>
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (SUM(?age) AS ?total)
        WHERE { ?p vcard:FN ?fn . ?p info:age ?age .
                ?b vcard:Family ?family . ?b vcard:Given ?g .
                FILTER(CONTAINS(?fn, ?g)) }
        GROUP BY ?family
        HAVING (?total >= 25)
    """)
    # only John's FN contains his Given name ("Becky Smith" != "Rebecca")
    assert got2 == {("Smith", 25)}


def test_having_inline_aggregate(vcard_cat):
    """Inline aggregates inside HAVING (COUNT(?g) >= 2) allocate hidden
    aggregates on the inner grouped query."""
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (MAX(?g) AS ?m)
        WHERE { ?b vcard:Family ?family . ?b vcard:Given ?g }
        GROUP BY ?family
        HAVING (COUNT(?g) >= 2 && ?m != "Sarah")
    """)
    assert got == {("Smith", "Rebecca")}


def test_ask(vcard_cat):
    from crux_spark.sources.sparql import sparql_ask

    assert sparql_ask(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        ASK { ?b vcard:Family "Smith" }
    """) is True
    assert sparql_ask(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        ASK WHERE { ?b vcard:Family "Nobody" }
    """) is False
    # ASK with a FILTER
    assert sparql_ask(vcard_cat, """
        PREFIX info: <http://somewhere/peopleInfo#>
        ASK { ?p info:age ?age . FILTER(?age > 24) }
    """) is True
    assert sparql_ask(vcard_cat, """
        PREFIX info: <http://somewhere/peopleInfo#>
        ASK { ?p info:age ?age . FILTER(?age > 99) }
    """) is False
    # the compiled form carries LIMIT 1 (CollectLimit short-circuit)
    from crux_spark.sources.sparql import sparql_to_datalog

    d = sparql_to_datalog("""
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        ASK { ?b vcard:Family "Smith" }
    """)
    assert d["limit"] == 1 and len(d["find"]) == 1


def test_count_star_under_optional(vcard_cat):
    """COUNT(*) counts ROWS (SPARQL 1.1 §18.5.1) even when the group key
    is OPTIONAL-unbound: counting the ?age column itself (Spark count()
    skips NULLs) would report 0 for the unbound group instead of 2.
    The star column must come from a required pattern (here ?p)."""
    got = run(vcard_cat, """
        PREFIX info:  <http://somewhere/peopleInfo#>
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?age (COUNT(*) AS ?n)
        WHERE { ?p vcard:FN ?name . OPTIONAL { ?p info:age ?age } }
        GROUP BY ?age
    """)
    assert got == {(23, 1), (25, 1), (None, 2)}


def test_count_star_under_optional_having(vcard_cat):
    """Inline COUNT(*) in HAVING with an OPTIONAL group key: the hidden
    aggregate must also count rows, not the nullable key."""
    got = run(vcard_cat, """
        PREFIX info:  <http://somewhere/peopleInfo#>
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?age (COUNT(*) AS ?n)
        WHERE { ?p vcard:FN ?name . OPTIONAL { ?p info:age ?age } }
        GROUP BY ?age
        HAVING (COUNT(*) >= 2)
    """)
    assert got == {(None, 2)}


def test_count_star_union_only_pattern(vcard_cat):
    """When no var is bound by a required flat pattern (everything sits
    inside UNION branches), COUNT(*) rides a synthesized constant-bound
    hidden var — always exactly row count."""
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT (COUNT(*) AS ?n)
        WHERE {
          { ?y vcard:Family "Smith" } UNION { ?y vcard:Family "Jones" }
        }
    """)
    assert got == {(4,)}


def test_group_concat_non_ascii_separator(vcard_cat):
    """Separator escape decode must survive non-latin1 characters (an
    em-dash would mojibake through a bare unicode_escape round-trip)."""
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family (GROUP_CONCAT(?g; SEPARATOR=" — ") AS ?members)
        WHERE { ?b vcard:Family ?family . ?b vcard:Given ?g }
        GROUP BY ?family
    """)
    assert got == {
        ("Jones", "Matthew — Sarah"),
        ("Smith", "John — Rebecca"),
    }


# ---------------------------------------------------------------------------
# 1:1 sweep of the reference's OWN conformance surface (r14, VERDICT
# item 4): crux-test/test/crux/sparql_test.clj (8 result-level asserts
# over the Jena vcard data — all covered by the tests above: literal
# object, var object, join, regex+prefix, numeric filter, OPTIONAL,
# inner join, OPTIONAL+FILTER) and labs/crux-rdf/test/crux/
# sparql_test.clj (the translation suite). Each labs case maps to a
# test here or a documented divergence:
#   bound-IRI-subject triple        -> test_literal_iri_subject
#   foaf name/mbox join             -> test_join (above)
#   var in predicate position       -> reference THROWS; ours executes
#                                      (EAV var-attr scan) —
#                                      test_variable_predicate_superset
#   language-tagged literal         -> test_language_tagged_literal
#   BIND(CONCAT) / select-expr      -> test_bind_concat_and_select_expression
#   FILTER regex ^anchor            -> test_regex_anchor_filter
#   decimal filter BETWEEN triples  -> test_filter_between_triples (also
#                                      pins the '<' vs later-IRI lexer fix)
#   OPTIONAL / OPTIONAL+FILTER      -> covered above (NULL, not the
#                                      reference's :crux.sparql/optional)
#   UNION same/disjoint branch vars -> test_union, test_union_disjoint_vars
#   FILTER NOT EXISTS / EXISTS      -> test_not_exists, test_filter_exists
#   MINUS                           -> reference THROWS ("use NOT
#                                      EXISTS"); ours compiles the spec
#                                      semantics — test_minus (superset)
#   subClassOf* / knows+            -> property-path tests above
#   knows? (zero-or-one)            -> test_zero_or_one_path (r14)
#   nested group join               -> reference THROWS on the nested-
#                                      expression query; plain adjacent
#                                      groups JOIN here per spec —
#                                      test_adjacent_group_join
#   VALUES inline / UNDEF rows      -> test_values_multi_var,
#                                      test_values_undef_rows (r14)
#   trailing VALUES clause          -> test_trailing_values (r14)
#   ORDER BY + LIMIT                -> test_order_limit
#   WatDiv SELECT *                 -> test_select_star (r14)
# ---------------------------------------------------------------------------

BOOKS_NT = """\
<http://example/book1> <http://purl.org/dc/elements/1.1/title> "SPARQL Tutorial" .
<http://example/book1> <http://example.org/ns#price> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://example/book2> <http://purl.org/dc/elements/1.1/title> "The Semantic Web" .
<http://example/book2> <http://example.org/ns#price> "23"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://example/book3> <http://purl.org/dc/elements/1.1/title> "Learning Webs" .
"""


@pytest.fixture(scope="module")
def books_cat(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("books") / "books.nt"
    path.write_text(BOOKS_NT)
    cat = Catalog(spark)
    cat.add_documents(
        "books", pivot_triples(read_ntriples(spark, str(path))).localCheckpoint()
    )
    return cat


def test_literal_iri_subject(books_cat):
    """labs: a bound IRI in SUBJECT position (book1 dc:title ?title)."""
    got = run(books_cat, """
        SELECT ?title
        WHERE { <http://example/book1> <http://purl.org/dc/elements/1.1/title> ?title . }
    """)
    assert got == {("SPARQL Tutorial",)}


def test_variable_predicate_superset(books_cat):
    """labs: `?v ?p "..."` THROWS in the reference ("Does not support
    variables in predicate position"); here it executes as an EAV
    var-attr scan — a documented superset."""
    got = run(books_cat, """
        SELECT ?v ?p WHERE { ?v ?p "SPARQL Tutorial" }
    """)
    assert got == {("http://example/book1", ":title")}


def test_regex_anchor_filter(books_cat):
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        SELECT ?title
        WHERE { ?x dc:title ?title FILTER regex(?title, "^SPARQL") }
    """)
    assert got == {("SPARQL Tutorial",)}
    got_i = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        SELECT ?title
        WHERE { ?x dc:title ?title FILTER regex(?title, "web", "i") }
    """)
    assert got_i == {("The Semantic Web",), ("Learning Webs",)}


def test_filter_between_triples(books_cat):
    """labs: FILTER sits BETWEEN two triple patterns and compares with
    '<' against a decimal literal — also pins the lexer fix (an IRI
    cannot span whitespace, so `< 30.5)` followed by a later IRI no
    longer lexes as one giant IRI token)."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT ?title ?price
        WHERE { ?x ns:price ?price .
                FILTER (?price < 30.5)
                ?x dc:title ?title . }
    """)
    assert got == {("The Semantic Web", 23)}


def test_union_disjoint_vars(books_cat):
    """labs: UNION branches binding DIFFERENT object vars; only the
    shared ?book projects (the reference compiles an or-join on ?book
    and notes the same limitation in its TODO)."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT ?book
        WHERE { { ?book dc:title ?x } UNION { ?book ns:price ?y } }
    """)
    assert got == {("http://example/book1",), ("http://example/book2",),
                   ("http://example/book3",)}


def test_filter_exists(books_cat):
    """labs: FILTER EXISTS inlines its pattern (set semantics make the
    semi-join equivalent)."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT ?title
        WHERE { ?b dc:title ?title . FILTER EXISTS { ?b ns:price ?p } }
    """)
    assert got == {("SPARQL Tutorial",), ("The Semantic Web",)}


def test_adjacent_group_join(books_cat):
    """labs: adjacent braced groups JOIN (SPARQL group-graph-pattern
    semantics). The reference throws on its nested-expression variant;
    the plain group join is in-subset here."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT ?title
        WHERE { { ?x ns:price ?p . } { ?x dc:title ?title . } FILTER(?p > 30) }
    """)
    assert got == {("SPARQL Tutorial",)}


def test_zero_or_one_path(knows_cat):
    """labs knows? case: zero-or-one = the endpoint itself UNION one
    step (the reference parses DISTINCT + ZeroLengthPath in a union)."""
    got = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/A> ex:knows? ?y . ?y ex:name ?n }
    """)
    assert got == {("Ann",), ("Bob",)}


def test_values_undef_rows(books_cat):
    """labs: VALUES rows with UNDEF cells (the reference emits
    :crux.sparql/undefined args). An UNDEF cell constrains nothing, so
    the rows compile to a disjunctive equality filter over the defined
    cells."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT ?book ?title ?price
        WHERE {
          ?book dc:title ?title ;
                ns:price ?price .
          VALUES (?book ?title)
          { (UNDEF "SPARQL Tutorial")
            (<http://example/book2> UNDEF) }
        }
    """)
    assert got == {("http://example/book1", "SPARQL Tutorial", 42),
                   ("http://example/book2", "The Semantic Web", 23)}


def test_trailing_values(books_cat):
    """labs: the ValuesClause AFTER the WHERE block (SPARQL grammar puts
    it after the solution modifiers) joins the final result."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT ?book ?title ?price
        WHERE {
          ?book dc:title ?title ;
                ns:price ?price .
        }
        VALUES (?book ?title)
        { (UNDEF "SPARQL Tutorial")
          (<http://example/book2> UNDEF) }
    """)
    assert got == {("http://example/book1", "SPARQL Tutorial", 42),
                   ("http://example/book2", "The Semantic Web", 23)}


def test_values_undef_introduces_bindings(books_cat):
    """r15 (was a silent capability gap vs the reference): VALUES whose
    vars are NOT bound by the pattern still introduces bindings — UNDEF
    cells stay unbound (NULL), matching the reference's ::undefined
    :args mapping (sparql.clj:266-274)."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        SELECT ?title ?tag
        WHERE { ?book dc:title ?title .
                VALUES ?tag { "new" UNDEF } }
    """)
    titles = {"SPARQL Tutorial", "The Semantic Web", "Learning Webs"}
    assert got == {(t, tag) for t in titles for tag in ("new", None)}
    # multi-var form: rows with UNDEF cells bind NULL positionally
    got2 = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        SELECT ?title ?a ?b
        WHERE { ?book dc:title ?title .
                VALUES (?a ?b) { ("x" "y") (UNDEF "z") } }
    """)
    assert got2 == {(t, a, b) for t in titles
                    for (a, b) in [("x", "y"), (None, "z")]}


def test_values_undef_mixed_raises(books_cat):
    """r15: mixed bound/unbound VALUES vars with UNDEF rows raise a
    clear NotImplementedError instead of a downstream compile error or
    a silently-dropped VALUES."""
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="VALUES with UNDEF"):
        sparql_to_datalog("""
            PREFIX dc: <http://purl.org/dc/elements/1.1/>
            SELECT ?title WHERE {
              ?book dc:title ?title .
              VALUES (?title ?unbound) { ("SPARQL Tutorial" UNDEF) }
            }
        """)
    with _pytest.raises(NotImplementedError, match="UNION/OPTIONAL"):
        sparql_to_datalog("""
            PREFIX dc: <http://purl.org/dc/elements/1.1/>
            SELECT ?title WHERE {
              { ?book dc:title ?title . VALUES ?x { UNDEF "a" } }
              UNION
              { ?book dc:title ?title }
            }
        """)


def test_select_star(books_cat):
    """labs WatDiv shape: SELECT * projects every variable in order of
    first appearance."""
    got = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        PREFIX ns: <http://example.org/ns#>
        SELECT * WHERE { ?b dc:title ?t . ?b ns:price ?p . }
    """)
    assert got == {("http://example/book1", "SPARQL Tutorial", 42),
                   ("http://example/book2", "The Semantic Web", 23)}


def test_inverse_path(knows_cat):
    """SPARQL 1.1 inverse path: `?x ^ex:knows <C>` == `<C> ex:knows ?x`
    (the reference inherits this from RDF4J's algebra). C knows D, so
    the inverse step from ?x lands on Dan."""
    got = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { ?x ^ex:knows <http://ex/C> . ?x ex:name ?n }
    """)
    assert got == {("Dan",)}
    # inverse inside a sequence: who is known by someone A knows
    got2 = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { ?y ^ex:knows/ex:knows ?y2 . ?y ex:name ?n . ?y2 ex:name ?n }
    """)
    # ^knows/knows = sibling-or-self under a common knower; chain graph
    # A->B->C->D gives each node back itself
    assert got2 == {("Bob",), ("Cid",), ("Dan",)}
    # inverse with a closure: ^knows+ from D reaches everyone upstream
    got3 = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { ?x ^ex:knows+ <http://ex/D>  . ?x ex:name ?n }
    """)
    assert got3 == set()  # ^p+ binds (o,s): D's upstream via ?x needs
    # the pattern the other way — assert the symmetric form instead
    got4 = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/D> ^ex:knows+ ?x . ?x ex:name ?n }
    """)
    assert got4 == {("Ann",), ("Bob",), ("Cid",)}


def test_alternative_path(vcard_cat):
    """SPARQL 1.1 PathAlternative p1|p2: union of the two edges (fresh
    intermediates per branch, or-join on the endpoint vars)."""
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?v WHERE { ?b vcard:Given|vcard:Family ?v }
    """)
    assert got == {("Matthew",), ("Sarah",), ("John",), ("Rebecca",),
                   ("Jones",), ("Smith",)}


def test_alternative_path_with_sequence(knows_cat):
    """Alternatives of SEQUENCES: knows/knows | knows — 1- or 2-step
    reach from A."""
    got = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?n
        WHERE { <http://ex/A> ex:knows/ex:knows|ex:knows ?y . ?y ex:name ?n }
    """)
    assert got == {("Bob",), ("Cid",)}


def test_subquery_max(vcard_cat):
    """SPARQL 1.1 subquery: the inner SELECT computes MAX(?a) AS ?age;
    the outer pattern joins on ?age — 'who has the maximum age'
    (compiles to the Datalog subquery pred with relation binding, the
    same seam HAVING uses)."""
    got = run(vcard_cat, """
        PREFIX info:  <http://somewhere/peopleInfo#>
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?name WHERE {
          ?p vcard:FN ?name . ?p info:age ?age .
          { SELECT (MAX(?a) AS ?age) WHERE { ?x info:age ?a } }
        }
    """)
    assert got == {("John Smith",)}


def test_subquery_grouped(vcard_cat):
    """Grouped subquery joining on the group key: per-family Given
    count, outer filters to families with 2 members."""
    got = run(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        SELECT ?family ?n WHERE {
          { SELECT ?family (COUNT(?g) AS ?n)
            WHERE { ?b vcard:Family ?family . ?b vcard:Given ?g }
            GROUP BY ?family }
          FILTER (?n >= 2)
        }
    """)
    assert got == {("Jones", 2), ("Smith", 2)}


def test_numeric_builtins_and_substr(books_cat):
    """SPARQL 1.1 numeric built-ins (ABS/CEIL/FLOOR/ROUND) and
    SUBSTR(s, start[, len]) — 1-based like SQL substring."""
    got = run(books_cat, """
        PREFIX ns: <http://example.org/ns#>
        SELECT ?x WHERE { ?x ns:price ?p . FILTER (ABS(?p - 30) < 8) }
    """)
    assert got == {("http://example/book2",)}
    got2 = run(books_cat, """
        PREFIX dc: <http://purl.org/dc/elements/1.1/>
        SELECT ?s WHERE { ?x dc:title ?t . BIND(SUBSTR(?t, 1, 6) AS ?s)
                          FILTER(STRSTARTS(?t, "SPARQL")) }
    """)
    assert got2 == {("SPARQL",)}
    got3 = run(books_cat, """
        PREFIX ns: <http://example.org/ns#>
        SELECT ?x WHERE { ?x ns:price ?p .
                          FILTER (CEIL(?p / 10) = 3 && FLOOR(?p / 10) = 2
                                  && ROUND(?p / 10) = 2) }
    """)
    assert got3 == {("http://example/book2",)}


def test_negated_property_set(knows_cat):
    """SPARQL 1.1 negated property set: !p and !(p1|p2) match any
    predicate EXCEPT the listed ones — compiled as a hidden var-attr
    EAV scan plus != filters."""
    got = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/A> !ex:name ?o }
    """)
    assert got == {("http://ex/B",)}  # only the knows edge survives
    got2 = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/A> !(ex:name|ex:knows) ?o }
    """)
    assert got2 == set()


def test_negated_set_inverse_members(knows_cat):
    """SPARQL 1.1 §9.1 inverse members: !(^q) matches ONLY reverse
    edges whose predicate is not q; !(p|^q) is the union of the forward
    complement of {p} and the reverse complement of {q} (r15 — was a
    documented NotImplementedError)."""
    # edges into B: only (A knows B); knows != name, so A qualifies
    got = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/B> !(^ex:name) ?o }
    """)
    assert got == {("http://ex/A",)}
    # reverse edges into B with pred != knows: none
    got2 = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/B> !(^ex:knows) ?o }
    """)
    assert got2 == set()
    # mixed: forward-not-name (knows C) UNION reverse-not-knows (none)
    got3 = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/B> !(ex:name|^ex:knows) ?o }
    """)
    assert got3 == {("http://ex/C",)}


def test_negated_set_object_list_independent(knows_cat):
    """An object list re-emits the negated-set step as INDEPENDENT
    patterns: `?s !p ?o1, ?o2` must NOT require both edges to ride the
    same predicate (each emission gets a fresh hidden attr var). A has
    a knows edge and a name edge — the cross product is 4 pairs."""
    got = run(knows_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o1 ?o2 WHERE { <http://ex/A> !ex:absent ?o1, ?o2 }
    """)
    assert got == {
        ("http://ex/B", "http://ex/B"), ("http://ex/B", "Ann"),
        ("Ann", "http://ex/B"), ("Ann", "Ann"),
    }


def test_construct(vcard_cat):
    """SPARQL CONSTRUCT: instantiate the template per solution, union +
    distinct; (s, p, o) all strings. The reference's translator is
    SELECT-only — superset surface."""
    from crux_spark.sources.sparql import sparql_construct

    out = sparql_construct(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        PREFIX foaf:  <http://xmlns.com/foaf/0.1/>
        CONSTRUCT { ?x foaf:name ?name . ?x foaf:kind "person" }
        WHERE { ?x vcard:FN ?name }
    """)
    rows = {tuple(r) for r in out.collect()}
    assert (JOHN, ":name", "John Smith") in rows
    assert (JOHN, ":kind", "person") in rows
    assert len(rows) == 8  # 4 names + 4 kind triples
    # template with a constant subject + filtered WHERE
    out2 = sparql_construct(vcard_cat, """
        PREFIX info: <http://somewhere/peopleInfo#>
        CONSTRUCT { <http://g/adults> <http://g/member> ?p }
        WHERE { ?p info:age ?a . FILTER (?a >= 24) }
    """)
    assert {tuple(r) for r in out2.collect()} == {
        ("http://g/adults", ":member", JOHN)
    }


def test_describe_iri_and_var(vcard_cat):
    """SPARQL DESCRIBE (r15 superset — the reference's protocol is
    SELECT-shaped): an IRI target yields every (s, p, o) triple of that
    entity; a variable target describes each resource the WHERE
    pattern binds it to; multiple targets union."""
    from crux_spark.sources.sparql import sparql_describe

    out = sparql_describe(vcard_cat, f"DESCRIBE <{JOHN}>")
    rows = {tuple(r) for r in out.collect()}
    assert (JOHN, ":FN", "John Smith") in rows
    assert (JOHN, ":age", "25") in rows
    assert all(s == JOHN for (s, _, _) in rows)
    # variable target: describe everyone older than 24
    out2 = sparql_describe(vcard_cat, """
        PREFIX info: <http://somewhere/peopleInfo#>
        DESCRIBE ?p WHERE { ?p info:age ?a . FILTER (?a >= 24) }
    """)
    rows2 = {tuple(r) for r in out2.collect()}
    assert {s for (s, _, _) in rows2} == {JOHN}
    assert rows2 == rows
    # two IRI targets union their descriptions
    out3 = sparql_describe(vcard_cat, f"DESCRIBE <{JOHN}> <{BECKY}>")
    subs = {s for (s, _, _) in {tuple(r) for r in out3.collect()}}
    assert subs == {JOHN, BECKY}


def test_describe_errors(vcard_cat):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not bound"):
        sparql_to_datalog("DESCRIBE ?p WHERE { ?x <http://a/b> ?y }")
    with _pytest.raises(NotImplementedError, match="DESCRIBE"):
        sparql_to_datalog("DESCRIBE * WHERE { ?x <http://a/b> ?y }")


def test_construct_omits_unbound_template_rows(vcard_cat):
    """SPARQL 1.1 §16.2: template triples containing a variable UNBOUND
    in a solution (here ?a, bound only inside OPTIONAL — NULL for
    Matt/Sarah) are omitted from the constructed graph, not emitted
    with a NULL slot."""
    from crux_spark.sources.sparql import sparql_construct

    out = sparql_construct(vcard_cat, """
        PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
        PREFIX info:  <http://somewhere/peopleInfo#>
        PREFIX foaf:  <http://xmlns.com/foaf/0.1/>
        CONSTRUCT { ?x foaf:name ?name . ?x foaf:age ?a }
        WHERE { ?x vcard:FN ?name OPTIONAL { ?x info:age ?a } }
    """)
    rows = {tuple(r) for r in out.collect()}
    assert len(rows) == 6  # 4 name triples + ONLY 2 bound age triples
    assert (JOHN, ":age", "25") in rows
    assert (BECKY, ":age", "23") in rows
    assert not any(any(c is None for c in r) for r in rows)


@pytest.fixture(scope="module")
def random_graph_cat(spark, tmp_path_factory):
    """Seeded random triple graph (15 nodes, 3 predicates, ~70 edges)
    for operator-equivalence laws — denser than the fixtures above, so
    the laws are checked over non-trivial shapes."""
    import random as _random

    rng = _random.Random(20260816)
    nodes = [f"http://g/n{i}" for i in range(15)]
    preds = ["http://g/p", "http://g/q", "http://g/r"]
    seen = set()
    lines = []
    for _ in range(70):
        s, p, o = rng.choice(nodes), rng.choice(preds), rng.choice(nodes)
        if (s, p, o) in seen:
            continue
        seen.add((s, p, o))
        lines.append(f"<{s}> <{p}> <{o}> .")
    path = tmp_path_factory.mktemp("rg") / "rg.nt"
    path.write_text("\n".join(lines) + "\n")
    cat = Catalog(spark)
    cat.add_documents(
        "rg", pivot_triples(read_ntriples(spark, str(path))).localCheckpoint()
    )
    return cat


def test_law_alternative_path_is_union(random_graph_cat):
    """`?s (p|q) ?o` == `?s p ?o` UNION `?s q ?o` (set semantics)."""
    alt = run(random_graph_cat, """
        PREFIX g: <http://g/>
        SELECT ?s ?o WHERE { ?s g:p|g:q ?o }
    """)
    a = run(random_graph_cat,
            "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s g:p ?o }")
    b = run(random_graph_cat,
            "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s g:q ?o }")
    assert alt == a | b and alt


def test_law_inverse_path_is_swap(random_graph_cat):
    """`?s ^p ?o` == `?o p ?s` with columns swapped."""
    inv = run(random_graph_cat,
              "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s ^g:p ?o }")
    fwd = run(random_graph_cat,
              "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?o g:p ?s }")
    assert inv == fwd and inv


def test_law_negated_set_is_complement(random_graph_cat):
    """`?s !p ?o` == all (s, o) edges minus the p edges (per-edge
    complement over the predicate domain)."""
    neg = run(random_graph_cat,
              "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s !g:p ?o }")
    allp = run(random_graph_cat,
               "SELECT ?s ?o WHERE { ?s ?anypred ?o }")
    only_p = run(random_graph_cat,
                 "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s g:p ?o }")
    # a pair can ride several predicates: the complement is per-EDGE, so
    # compare against pairs that have at least one non-p predicate
    q_edges = run(random_graph_cat,
                  "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s g:q ?o }")
    r_edges = run(random_graph_cat,
                  "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s g:r ?o }")
    assert neg == q_edges | r_edges and neg <= allp
    assert not (neg - (allp - only_p) - (q_edges | r_edges))


def test_law_negated_inverse_is_swapped_complement(random_graph_cat):
    """`?s !(^p) ?o` == `?s !p ?o` with columns swapped (the reverse
    complement ranges over inverse edges only, SPARQL 1.1 §9.1)."""
    inv = run(random_graph_cat,
              "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s !(^g:p) ?o }")
    fwd = run(random_graph_cat,
              "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s !g:p ?o }")
    assert inv == {(b, a) for (a, b) in fwd} and inv


def test_law_negated_mixed_is_union_of_complements(random_graph_cat):
    """`?s !(p|^q) ?o` == forward complement of {p} UNION swapped
    reverse complement of {q}."""
    mixed = run(random_graph_cat, """
        PREFIX g: <http://g/>
        SELECT ?s ?o WHERE { ?s !(g:p|^g:q) ?o }
    """)
    def edges(p):
        return run(random_graph_cat,
                   f"PREFIX g: <http://g/> SELECT ?s ?o "
                   f"WHERE {{ ?s g:{p} ?o }}")
    fwd_part = edges("q") | edges("r")               # not-p, forward
    inv_part = {(b, a) for (a, b) in edges("p") | edges("r")}  # not-q, rev
    assert mixed == fwd_part | inv_part and mixed


def test_law_zero_or_one_is_self_union_step(random_graph_cat):
    """`<n0> p? ?o` == {n0} UNION p-neighbors of n0."""
    zoo = run(random_graph_cat, """
        PREFIX g: <http://g/>
        SELECT ?o WHERE { <http://g/n0> g:p? ?o }
    """)
    step = run(random_graph_cat, """
        PREFIX g: <http://g/>
        SELECT ?o WHERE { <http://g/n0> g:p ?o }
    """)
    assert zoo == step | {("http://g/n0",)}


def _closure(pairs):
    """Transitive closure of a set of (s, o) pairs (python oracle)."""
    out = set(pairs)
    while True:
        new = {(a, d) for (a, b) in out for (c, d) in out if b == c}
        if new <= out:
            return out
        out |= new


GROUP_CHAIN_NT = """\
<http://ex/A> <http://ex/p> <http://ex/B> .
<http://ex/B> <http://ex/q> <http://ex/C> .
<http://ex/C> <http://ex/p> <http://ex/D> .
<http://ex/D> <http://ex/q> <http://ex/E> .
"""


@pytest.fixture(scope="module")
def chain_cat(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("chain") / "chain.nt"
    path.write_text(GROUP_CHAIN_NT)
    cat = Catalog(spark)
    cat.add_documents(
        "chain",
        pivot_triples(read_ntriples(spark, str(path))).localCheckpoint(),
    )
    return cat


def test_grouped_path_sequence_closure(chain_cat):
    """r15 grouped paths: (p/q)+ closes over the COMPOSITE two-hop
    traversal — on the chain A-p-B-q-C-p-D-q-E, (p/q)+ from A reaches
    C (one traversal) and E (two)."""
    got = run(chain_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/A> (ex:p/ex:q)+ ?o }
    """)
    assert got == {("http://ex/C",), ("http://ex/E",)}
    # (p/q)* adds the zero-length self
    got2 = run(chain_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/A> (ex:p/ex:q)* ?o }
    """)
    assert got2 == got | {("http://ex/A",)}
    # (p/q)? is self plus ONE traversal only
    got3 = run(chain_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o WHERE { <http://ex/A> (ex:p/ex:q)? ?o }
    """)
    assert got3 == {("http://ex/A",), ("http://ex/C",)}
    # inverse of a grouped path swaps the whole composite traversal
    got4 = run(chain_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?s WHERE { <http://ex/C> ^(ex:p/ex:q) ?s }
    """)
    assert got4 == {("http://ex/A",)}


def test_law_grouped_alt_closure_is_union_closure(random_graph_cat):
    """`?s (p|q)+ ?o` == the transitive closure of the UNION of the p
    and q edge sets (python-oracle closure over the seeded graph)."""
    got = run(random_graph_cat, """
        PREFIX g: <http://g/>
        SELECT ?s ?o WHERE { ?s (g:p|g:q)+ ?o }
    """)
    def edges(p):
        return run(random_graph_cat,
                   f"PREFIX g: <http://g/> SELECT ?s ?o "
                   f"WHERE {{ ?s g:{p} ?o }}")
    assert got == _closure(edges("p") | edges("q")) and got


def test_law_negated_set_closure(random_graph_cat):
    """`?s !g:p+ ?o` (modified negated set, r15) == the closure of the
    per-edge complement of p — here exactly (q|r)+ since the graph has
    three predicates."""
    got = run(random_graph_cat, """
        PREFIX g: <http://g/>
        SELECT ?s ?o WHERE { ?s !g:p+ ?o }
    """)
    def edges(p):
        return run(random_graph_cat,
                   f"PREFIX g: <http://g/> SELECT ?s ?o "
                   f"WHERE {{ ?s g:{p} ?o }}")
    assert got == _closure(edges("q") | edges("r")) and got


def test_grouped_path_object_list_independent(chain_cat):
    """Object lists re-emit a modified group as independent rule
    invocations: A (p/q)+ ?o1, ?o2 yields the cross product."""
    got = run(chain_cat, """
        PREFIX ex: <http://ex/>
        SELECT ?o1 ?o2 WHERE { <http://ex/A> (ex:p/ex:q)+ ?o1, ?o2 }
    """)
    reach = {"http://ex/C", "http://ex/E"}
    assert got == {(a, b) for a in reach for b in reach}


def test_law_values_undef_is_manual_filter(random_graph_cat):
    """VALUES rows with UNDEF == the disjunction of the defined-cell
    equalities applied manually."""
    base = run(random_graph_cat,
               "PREFIX g: <http://g/> SELECT ?s ?o WHERE { ?s g:p ?o }")
    some_s = sorted({s for s, _ in base})[0]
    some_o = sorted({o for _, o in base})[-1]
    got = run(random_graph_cat, f"""
        PREFIX g: <http://g/>
        SELECT ?s ?o WHERE {{
          ?s g:p ?o .
          VALUES (?s ?o) {{ (<{some_s}> UNDEF) (UNDEF <{some_o}>) }}
        }}
    """)
    manual = {(s, o) for s, o in base if s == some_s or o == some_o}
    assert got == manual and got
