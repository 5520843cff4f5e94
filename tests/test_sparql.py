"""Mini-SPARQL compiler: the reference's consumption queries
(csv2rdf-v4/jena/requests.sparql) against the triple table, plus the
term-typing / MINUS / FILTER edge cases of the subset."""

from __future__ import annotations

import pytest

from kgforge.sparql import Iri, Lit, Var, insert, parse, sparql

NS = "https://www.olivier.com/rdf/mipl/"
NSV1 = "https://www.olivier.com/rdf/mipl/v01/"
NSV2 = "https://www.olivier.com/rdf/mipl/v02/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"

PREFIXES = f"""
PREFIX rdf: <{RDF}>
PREFIX rdfs: <{RDFS}>
prefix ns1: <{NS}>
prefix ns1v1: <{NSV1}>
prefix ns1v2: <{NSV2}>
"""

#: the reference's versioned fixture, csv2rdf-v4/jena/test-version.ttl
#: (part12 linked to variantA in v01; to variantA AND variantB in v02)
VERSION_ROWS = [
    (NS + "PNR", RDF + "type", RDFS + "Class", None),
    (NS + "Variant", RDF + "type", RDFS + "Class", None),
    (NS + "part12", RDF + "type", NS + "PNR", None),
    (NS + "variantA", RDF + "type", NS + "Variant", None),
    (NS + "variantB", RDF + "type", NS + "Variant", None),
    (NS + "applicable_to", RDF + "type", RDF + "Property", None),
    (NSV1 + "applicable_to", RDF + "type", RDF + "Property", None),
    (NSV1 + "applicable_to", RDFS + "subPropertyOf", NS + "applicable_to", None),
    (NS + "part12", NSV1 + "applicable_to", NS + "variantA", None),
    (NSV2 + "applicable_to", RDF + "type", RDF + "Property", None),
    (NSV2 + "applicable_to", RDFS + "subPropertyOf", NS + "applicable_to", None),
    (NS + "part12", NSV2 + "applicable_to", NS + "variantA", None),
    (NS + "part12", NSV2 + "applicable_to", NS + "variantB", None),
]


def _triples(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_dt string"
    )


def test_bgp_dump_select_star(spark):
    """requests.sparql:7 — select ?x ?y ?z where {?x ?y ?z}."""
    df = _triples(spark, VERSION_ROWS)
    got = sparql(df, PREFIXES + "select ?x ?y ?z where {?x ?y ?z}")
    assert got.columns == ["x", "y", "z"]
    assert {(r.x, r.y, r.z) for r in got.collect()} == {
        (s, p, o) for s, p, o, _ in VERSION_ROWS
    }


def test_version_resolution_minus_filter(spark):
    """requests.sparql:22-31 — latest version wins: (part12, variantA)
    is already stated by v01, so only the v02-only (part12, variantB)
    pair survives the MINUS."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """
    SELECT distinct ?x ?z
    WHERE
    {
        ?x ns1v2:applicable_to ?z .
        MINUS {
            ?x ?r1 ?z .
            ?r1 rdfs:subPropertyOf ns1:applicable_to .
            filter(?r1 != ns1v2:applicable_to)
        }
    }
    """
    got = {(r.x, r.z) for r in sparql(df, q).collect()}
    assert got == {(NS + "part12", NS + "variantB")}


def test_construct_subproperty_inference(spark):
    """requests.sparql:9-12 — CONSTRUCT {?x ?r ?y} WHERE {?x ?q ?y .
    ?q rdfs:subPropertyOf ?r}: both versioned links lift to the mother
    property."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + "CONSTRUCT {?x ?r ?y .} WHERE {?x ?q ?y . ?q rdfs:subPropertyOf ?r }"
    got = sparql(df, q)
    assert got.columns == ["subj", "pred", "obj", "obj_dt"]
    assert {(r.subj, r.pred, r.obj, r.obj_dt) for r in got.collect()} == {
        (NS + "part12", NS + "applicable_to", NS + "variantA", None),
        (NS + "part12", NS + "applicable_to", NS + "variantB", None),
    }


def test_insert_unions_and_dedups(spark):
    """requests.sparql:15-19 — INSERT adds the inferred triples to the
    store; re-running is idempotent (set semantics)."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + "INSERT { ?x ?r ?y . } where { { ?x ?q ?y . ?q rdfs:subPropertyOf ?r . } }"
    once = insert(df, q)
    assert once.count() == len(VERSION_ROWS) + 2
    twice = insert(once, q)
    assert twice.count() == once.count()


def test_a_keyword_and_pname_and_iri_terms(spark):
    df = _triples(spark, VERSION_ROWS)
    got = sparql(df, PREFIXES + "SELECT ?v WHERE { ?v a ns1:Variant }")
    assert {r.v for r in got.collect()} == {NS + "variantA", NS + "variantB"}
    got2 = sparql(df, f"SELECT ?v WHERE {{ ?v <{RDF}type> <{NS}Variant> }}")
    assert {r.v for r in got2.collect()} == {NS + "variantA", NS + "variantB"}


def test_object_list_and_predicate_list(spark):
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """SELECT ?x WHERE {
        ?x ns1v2:applicable_to ns1:variantA , ns1:variantB ;
           a ns1:PNR .
    }"""
    assert {r.x for r in sparql(df, q).collect()} == {NS + "part12"}


def test_literal_typing_matches_term_not_just_lexical(spark):
    rows = [
        ("s1", "p", "5", ""),  # plain literal
        ("s2", "p", "5", "http://www.w3.org/2001/XMLSchema#integer"),
        ("s3", "p", "5", None),  # IRI named "5"
    ]
    df = _triples(spark, rows)
    q1 = 'SELECT ?s WHERE { ?s <p> "5" }'
    assert {r.s for r in sparql(df, q1).collect()} == {"s1"}
    q2 = (
        'PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> '
        'SELECT ?s WHERE { ?s <p> "5"^^xsd:integer }'
    )
    assert {r.s for r in sparql(df, q2).collect()} == {"s2"}


def test_shared_var_join_includes_datatype(spark):
    """?v bound in object position twice: term equality includes the
    datatype, so the plain-literal "5" never joins the typed "5"."""
    rows = [
        ("a", "p1", "5", ""),
        ("a", "p2", "5", "http://www.w3.org/2001/XMLSchema#integer"),
        ("b", "p1", "7", ""),
        ("b", "p2", "7", ""),
    ]
    df = _triples(spark, rows)
    got = sparql(df, "SELECT ?s ?v WHERE { ?s <p1> ?v . ?s <p2> ?v }")
    assert {(r.s, r.v) for r in got.collect()} == {("b", "7")}


def test_shared_object_var_joins_iri_bindings(spark):
    """Two patterns share ?c bound to IRIs (dt shadow NULL on both
    sides): the join must be null-safe or nothing ever matches."""
    rows = [
        ("a", "knows", "c1", None),
        ("b", "likes", "c1", None),
        ("b", "likes", "c2", None),
    ]
    df = _triples(spark, rows)
    got = sparql(df, "SELECT ?x ?y ?c WHERE { ?x <knows> ?c . ?y <likes> ?c }")
    assert {(r.x, r.y, r.c) for r in got.collect()} == {("a", "b", "c1")}


def test_var_in_subject_position_forces_iri_object_binding(spark):
    """?z appears as a subject elsewhere -> its object bindings must be
    IRIs (literals filtered in-plan, no dt shadow)."""
    rows = [
        ("a", "knows", "b", None),
        ("a", "knows", "just a string", ""),
        ("b", "age", "30", ""),
    ]
    df = _triples(spark, rows)
    got = sparql(df, "SELECT ?z WHERE { <a> <knows> ?z . ?z <age> ?age }")
    assert {r.z for r in got.collect()} == {"b"}


def test_minus_no_shared_vars_is_noop(spark):
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """SELECT ?v WHERE {
        ?v a ns1:Variant .
        MINUS { ?other a ns1:PNR }
    }"""
    assert {r.v for r in sparql(df, q).collect()} == {
        NS + "variantA",
        NS + "variantB",
    }


def test_filter_numeric_and_boolean_ops(spark):
    rows = [
        ("a", "age", "30", ""),
        ("b", "age", "7", ""),
        ("c", "age", "100", ""),
    ]
    df = _triples(spark, rows)
    got = sparql(df, "SELECT ?s WHERE { ?s <age> ?x . FILTER(?x > 7 && !(?x >= 100)) }")
    assert {r.s for r in got.collect()} == {"a"}
    got2 = sparql(df, "SELECT ?s WHERE { ?s <age> ?x . FILTER(?x = 7 || ?x = 100) }")
    assert {r.s for r in got2.collect()} == {"b", "c"}


def test_repeated_var_within_one_pattern(spark):
    rows = [
        ("a", "sameAs", "a", None),
        ("a", "sameAs", "b", None),
        # literal whose LEXICAL form equals the subject IRI — term
        # inequality (IRI 'c' != literal "c") must exclude it
        ("c", "sameAs", "c", ""),
    ]
    df = _triples(spark, rows)
    got = sparql(df, "SELECT ?x WHERE { ?x <sameAs> ?x }")
    assert {r.x for r in got.collect()} == {"a"}


def test_literal_subject_matches_nothing(spark):
    """RDF has no literal subjects: a literal in subject position never
    matches, even when its lexical form equals an IRI subject — the
    same answer from a triple pattern, an ASK and a path pattern."""
    rows = [
        ("http://ex/a", "http://ex/p", "http://ex/b", None),
        ("http://ex/a", "http://ex/q", "x", ""),
    ]
    df = _triples(spark, rows)
    got = sparql(df, 'SELECT ?p ?o WHERE { "http://ex/a" ?p ?o }')
    assert got.collect() == []
    ask = sparql(df, 'ASK { "http://ex/a" <http://ex/p> <http://ex/b> }')
    assert ask.collect()[0].ask is False
    path = sparql(df, 'SELECT ?o WHERE { "http://ex/a" <http://ex/p>+ ?o }')
    assert path.collect() == []


def test_pname_trailing_dot_is_triple_terminator(spark):
    """`?v a ns1:Variant.` (no space before the dot) — PN_LOCAL may
    contain dots but not end with one; the dot terminates the triple."""
    df = _triples(spark, VERSION_ROWS)
    got = sparql(df, PREFIXES + "SELECT ?v WHERE { ?v a ns1:Variant. }")
    assert {r.v for r in got.collect()} == {NS + "variantA", NS + "variantB"}


def test_trailing_tokens_rejected_and_construct_limit():
    with pytest.raises(ValueError, match="trailing tokens"):
        parse("SELECT ?x WHERE { ?x <p> ?y } LIMTI 10")
    q = parse("CONSTRUCT {?x <p2> ?y} WHERE { ?x <p> ?y } LIMIT 5")
    assert q.form == "construct" and q.limit == 5


def test_construct_limit_bounds_solutions(spark):
    rows = [(f"s{i}", "p", f"o{i}", None) for i in range(10)]
    df = _triples(spark, rows)
    q = "CONSTRUCT {?x <p2> ?y} WHERE { ?x <p> ?y } ORDER BY ?x LIMIT 3"
    got = sparql(df, q).collect()
    assert {r.subj for r in got} == {"s0", "s1", "s2"}


def test_minus_keeps_literal_solutions(spark):
    """SPARQL MINUS semantics: a literal ?o can never be compatible
    with a MINUS solution that binds ?o in subject position (an IRI),
    so the literal row must be KEPT — a subject-position occurrence
    inside MINUS must not pre-filter the outer group's bindings."""
    rows = [
        ("d1", "p", "hello", ""),      # literal object — must survive
        ("e1", "p", "e2", None),       # IRI object, e2 has a q-edge
        ("f1", "p", "f2", None),       # IRI object, no q-edge
        ("e2", "q", "z", None),
    ]
    df = _triples(spark, rows)
    q = "SELECT ?o WHERE { ?s <p> ?o . MINUS { ?o <q> ?z } }"
    assert {r.o for r in sparql(df, q).collect()} == {"hello", "f2"}


def test_cross_join_when_patterns_share_nothing(spark):
    rows = [("a", "p", "1", ""), ("b", "q", "2", "")]
    df = _triples(spark, rows)
    got = sparql(df, "SELECT ?x ?y WHERE { ?x <p> ?o1 . ?y <q> ?o2 }")
    assert {(r.x, r.y) for r in got.collect()} == {("a", "b")}


def test_parse_errors():
    with pytest.raises(ValueError, match="UNION must follow"):
        parse("SELECT ?x WHERE { ?x <p> ?y UNION { ?x <q> ?y } }")
    with pytest.raises(ValueError, match="undeclared prefix"):
        parse("SELECT ?x WHERE { ?x foo:bar ?y }")
    with pytest.raises(ValueError, match="SELECT needs"):
        parse("SELECT WHERE { ?x <p> ?y }")
    with pytest.raises(ValueError, match="shadow namespace"):
        parse("SELECT ?__dt_x WHERE { ?__dt_x <p> ?y }")


def test_select_unbound_var_raises(spark):
    df = _triples(spark, VERSION_ROWS)
    with pytest.raises(ValueError, match="unbound"):
        sparql(df, "SELECT ?nope WHERE { ?x <p> ?y }").collect()


def test_parse_reference_request_file_verbatim():
    """Every query block in csv2rdf-v4/jena/requests.sparql parses
    (the INSERT block's nested group included)."""
    ref = PREFIXES
    blocks = [
        "select ?x ?y ?z where {?x ?y ?z}",
        "CONSTRUCT {?x ?r ?y .}\nWHERE {?x ?q ?y .\n?q rdfs:subPropertyOf ?r }",
        "INSERT { ?x ?r ?y . }\n  where {\n  { ?x ?q ?y .\n  ?q rdfs:subPropertyOf ?r . }\n}",
        """SELECT distinct ?x ?z
WHERE
{
\t?x ns1v2:applicable_to ?z .
\tMINUS {
\t\t?x ?r1 ?z .
\t\t?r1 rdfs:subPropertyOf ns1:applicable_to .
\t\tfilter(?r1 != ns1v2:applicable_to)
\t}
}""",
    ]
    for b in blocks:
        q = parse(ref + b)
        assert q.form in ("select", "construct")


def test_schema_pattern_broadcasts_in_plan(spark):
    """The version-resolution MINUS side joins ?r1 against a
    subPropertyOf pattern — grammar-sized by construction, so the plan
    must broadcast it (no schema-side shuffle at any corpus size)."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """
    SELECT distinct ?x ?z WHERE {
        ?x ns1v2:applicable_to ?z .
        MINUS { ?x ?r1 ?z . ?r1 rdfs:subPropertyOf ns1:applicable_to .
                filter(?r1 != ns1v2:applicable_to) }
    }"""
    plan = sparql(df, q)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_order_by_limit_offset(spark):
    rows = [(f"s{i}", "rank", str(i), "") for i in range(10)]
    df = _triples(spark, rows)
    q = "SELECT ?s ?r WHERE { ?s <rank> ?r } ORDER BY DESC(?r) LIMIT 3"
    got = [(r.s, r.r) for r in sparql(df, q).collect()]
    assert got == [("s9", "9"), ("s8", "8"), ("s7", "7")]
    q2 = "SELECT ?s WHERE { ?s <rank> ?r } ORDER BY ASC(?s) LIMIT 2 OFFSET 2"
    assert [r.s for r in sparql(df, q2).collect()] == ["s2", "s3"]
    # ordering by an unprojected variable is legal without DISTINCT
    q3 = "SELECT ?s WHERE { ?s <rank> ?r } ORDER BY DESC(?r) LIMIT 1"
    assert [r.s for r in sparql(df, q3).collect()] == ["s9"]
    with pytest.raises(ValueError, match="DISTINCT restricts"):
        sparql(df, "SELECT DISTINCT ?s WHERE { ?s <rank> ?r } ORDER BY ?r")
    with pytest.raises(ValueError, match="needs at least one"):
        parse("SELECT ?s WHERE { ?s <rank> ?r } ORDER BY LIMIT 2")


def test_cli_query_mode_select_and_construct(spark, tmp_path, capsys):
    """`python -m kgforge --sparql q.rq --triples t/` — the CLI
    replacement for the reference's manual Jena-endpoint step."""
    from kgforge.__main__ import main
    from kgforge.io.write import write_triples

    tpath = str(tmp_path / "triples")
    write_triples(_triples(spark, VERSION_ROWS), tpath, n_buckets=2)

    qsel = tmp_path / "q_select.rq"
    qsel.write_text(
        PREFIXES + "SELECT distinct ?x ?z WHERE { ?x ns1v2:applicable_to ?z . "
        "MINUS { ?x ?r1 ?z . ?r1 rdfs:subPropertyOf ns1:applicable_to . "
        "filter(?r1 != ns1v2:applicable_to) } }"
    )
    assert main(["--sparql", str(qsel), "--triples", tpath]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "x\tz"
    assert out[1:] == [f"{NS}part12\t{NS}variantB"]

    qcon = tmp_path / "q_construct.rq"
    qcon.write_text(
        PREFIXES + "CONSTRUCT {?x ?r ?y .} WHERE {?x ?q ?y . ?q rdfs:subPropertyOf ?r }"
    )
    assert main(["--sparql", str(qcon), "--triples", tpath]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines == sorted(lines) and len(lines) == 2
    assert all(l.startswith(f"<{NS}part12> <{NS}applicable_to> <") for l in lines)


def test_cli_query_mode_rdfs_inference(spark, tmp_path, capsys):
    """--rdfs applies the materialized closure before querying: the
    mother property is only reachable through subPropertyOf
    inference."""
    from kgforge.__main__ import main
    from kgforge.io.write import write_triples

    tpath = str(tmp_path / "triples")
    write_triples(_triples(spark, VERSION_ROWS), tpath, n_buckets=2)
    q = tmp_path / "q.rq"
    q.write_text(
        PREFIXES + "SELECT distinct ?x ?z WHERE { ?x ns1:applicable_to ?z }"
    )
    assert main(["--sparql", str(q), "--triples", tpath]) == 0
    assert capsys.readouterr().out.strip().splitlines() == ["x\tz"]  # no inference

    assert main(["--sparql", str(q), "--triples", tpath, "--rdfs"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert sorted(lines[1:]) == [
        f"{NS}part12\t{NS}variantA",
        f"{NS}part12\t{NS}variantB",
    ]


def test_cli_query_mode_arg_validation():
    from kgforge.__main__ import main

    with pytest.raises(SystemExit):
        main(["--sparql", "q.rq"])  # --triples missing
    with pytest.raises(SystemExit):
        main([])  # neither conversion nor query mode


def test_ast_term_kinds():
    q = parse(
        'PREFIX x: <http://x/> SELECT ?a WHERE { ?a x:p "lit" . ?a <http://x/q> ?b }'
    )
    (s1, p1, o1), (s2, p2, o2) = q.group.patterns
    assert s1 == Var("a") and p1 == Iri("http://x/p") and o1 == Lit("lit")
    assert p2 == Iri("http://x/q") and o2 == Var("b")


# ----------------------------------------------------- round-4 surface
XSD = "http://www.w3.org/2001/XMLSchema#"


def test_optional_left_join(spark):
    """OPTIONAL keeps non-matching solutions with the optional vars
    unbound (NULL), and extends matching ones."""
    rows = [
        ("a", "p", "1", ""),
        ("b", "p", "2", ""),
        ("a", "label", "Alpha", ""),
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s ?v ?l WHERE { ?s <p> ?v . OPTIONAL { ?s <label> ?l } }"
    got = {(r.s, r.v, r.l) for r in sparql(df, q).collect()}
    assert got == {("a", "1", "Alpha"), ("b", "2", None)}


def test_optional_multiplies_matches_and_dt_reconciles(spark):
    """Two optional matches → two extended solutions; a literal-valued
    outer binding never matches an optional that binds the var in
    subject position (IRI-only), but the solution itself survives."""
    rows = [
        ("a", "p", "x", None),        # IRI object
        ("d", "p", "lit", ""),        # literal object
        ("x", "q", "q1", ""),
        ("x", "q", "q2", ""),
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s ?o ?w WHERE { ?s <p> ?o . OPTIONAL { ?o <q> ?w } }"
    got = {(r.s, r.o, r.w) for r in sparql(df, q).collect()}
    assert got == {("a", "x", "q1"), ("a", "x", "q2"), ("d", "lit", None)}


def test_optional_disjoint_rejected(spark):
    df = _triples(spark, [("a", "p", "1", "")])
    with pytest.raises(ValueError, match="OPTIONAL sharing no variable"):
        sparql(df, "SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?x <q> ?y } }").collect()


def test_filter_numeric_promotion_typed_integers(spark):
    """Integer-typed literals compare NUMERICALLY: version "10" beats
    "9" (lexically "10" < "9") — the round-3 verdict's G11 gap."""
    rows = [
        ("r1", "ver", "9", XSD + "integer"),
        ("r2", "ver", "10", XSD + "integer"),
        ("r3", "ver", "2", XSD + "integer"),
    ]
    df = _triples(spark, rows)
    q = f'SELECT ?s WHERE {{ ?s <ver> ?v . FILTER(?v > "9"^^<{XSD}integer>) }}'
    assert {r.s for r in sparql(df, q).collect()} == {"r2"}
    # both vars, row-dependent promotion through a self-join
    q2 = "SELECT ?a ?b WHERE { ?a <ver> ?x . ?b <ver> ?y . FILTER(?x < ?y) }"
    got = {(r.a, r.b) for r in sparql(df, q2).collect()}
    assert got == {("r1", "r2"), ("r3", "r1"), ("r3", "r2")}


def test_filter_string_vs_numeric_rows_mixed(spark):
    """Plain literals keep string comparison in the SAME query where
    integer-typed rows compare numerically (per-row promotion)."""
    rows = [
        ("n1", "v", "10", XSD + "integer"),
        ("n2", "v", "9", XSD + "integer"),
        ("s1", "v", "10", ""),   # plain literals: lexical ordering
        ("s2", "v", "9", ""),
    ]
    df = _triples(spark, rows)
    q = 'SELECT ?s WHERE { ?s <v> ?x . FILTER(?x < "9") }'
    # typed "10"^^int vs plain "9" → mixed kinds → string compare "10"<"9" true;
    # typed 9 is NOT < "9"; plain "10" < "9" lexically true
    assert {r.s for r in sparql(df, q).collect()} == {"n1", "s1"}


def test_filter_numeric_type_error_drops_row(spark):
    """A numeric-typed literal with a junk lexical form is a SPARQL
    type error: the row is dropped, not a runtime crash (try_cast)."""
    rows = [
        ("ok", "v", "5", XSD + "integer"),
        ("bad", "v", "junk", XSD + "integer"),
    ]
    df = _triples(spark, rows)
    q = 'SELECT ?s WHERE { ?s <v> ?x . FILTER(?x >= "1"^^<' + XSD + 'integer>) }'
    assert {r.s for r in sparql(df, q).collect()} == {"ok"}


def test_select_distinct_is_term_based(spark):
    """"5" plain and "5"^^xsd:integer are DIFFERENT terms: DISTINCT
    keeps both solutions even though they project the same lexical."""
    rows = [
        ("a", "p", "5", ""),
        ("b", "p", "5", XSD + "integer"),
        ("c", "p", "5", ""),  # duplicate term of a's → collapses
    ]
    df = _triples(spark, rows)
    got = [r.v for r in sparql(df, "SELECT DISTINCT ?v WHERE { ?s <p> ?v }").collect()]
    assert sorted(got) == ["5", "5"]


def test_construct_ill_formed_skips_only_that_triple(spark):
    """A solution whose template-subject var binds a literal loses only
    that instantiated triple; its other template triples materialize
    (round-3 advice: the old pre-filter dropped the whole solution)."""
    rows = [
        ("a", "p", "x", None),    # ?o = IRI  → both template triples
        ("b", "p", "lit", ""),    # ?o = literal → only the second
    ]
    df = _triples(spark, rows)
    q = """CONSTRUCT { ?o <derived> ?s . ?s <seen> "y" }
           WHERE { ?s <p> ?o }"""
    got = {(r.subj, r.pred, r.obj) for r in sparql(df, q).collect()}
    assert got == {
        ("x", "derived", "a"),
        ("a", "seen", "y"),
        ("b", "seen", "y"),
    }


def test_construct_skips_unbound_optional_var(spark):
    rows = [
        ("a", "p", "1", ""),
        ("a", "label", "Alpha", ""),
        ("b", "p", "2", ""),
    ]
    df = _triples(spark, rows)
    q = """CONSTRUCT { ?s <hasLabel> ?l . ?s <present> "y" }
           WHERE { ?s <p> ?v . OPTIONAL { ?s <label> ?l } }"""
    got = {(r.subj, r.pred, r.obj) for r in sparql(df, q).collect()}
    assert got == {
        ("a", "hasLabel", "Alpha"),
        ("a", "present", "y"),
        ("b", "present", "y"),
    }


def test_cli_tsv_escapes_control_chars(spark, tmp_path, capsys):
    """Literals with tabs/newlines (web-extracted text) must not break
    the TSV row structure of query-mode output."""
    from kgforge.__main__ import main
    from kgforge.io.write import write_triples

    rows = [("a", "p", "line1\nline2\tcol", ""), ("b", "p", "back\\slash", "")]
    tpath = str(tmp_path / "t")
    write_triples(_triples(spark, rows), tpath, n_buckets=1)
    q = tmp_path / "q.rq"
    q.write_text("SELECT ?o WHERE { ?s <p> ?o }")
    assert main(["--sparql", str(q), "--triples", tpath]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert sorted(lines[1:]) == ["back\\\\slash", "line1\\nline2\\tcol"]
    assert all("\t" not in ln for ln in lines[1:])


def test_union_basic_and_bag_semantics(spark):
    """{A} UNION {B}: solution bags concatenate — a (x,z) pair stated
    by BOTH branches appears twice (no implicit distinct, per spec)."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """
    SELECT ?x ?z WHERE {
        { ?x ns1v1:applicable_to ?z } UNION { ?x ns1v2:applicable_to ?z }
    }
    """
    rows = [(r.x, r.z) for r in sparql(df, q).collect()]
    # v1: (part12, variantA); v2: (part12, variantA), (part12, variantB)
    assert sorted(rows) == [
        (NS + "part12", NS + "variantA"),
        (NS + "part12", NS + "variantA"),  # stated by both versions
        (NS + "part12", NS + "variantB"),
    ]
    # DISTINCT collapses the bag
    qd = q.replace("SELECT ?x ?z", "SELECT DISTINCT ?x ?z")
    assert len(sparql(df, qd).collect()) == 2


def test_union_three_branches_and_join_with_outer_pattern(spark):
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """
    SELECT ?v WHERE {
        ?v a ns1:Variant .
        { ?p ns1v1:applicable_to ?v } UNION { ?p ns1v2:applicable_to ?v }
              UNION { ?v a ns1:Variant . ?p a ns1:PNR }
    }
    """
    got = sorted(r.v for r in sparql(df, q).collect())
    # variantA: v1 + v2 + branch-3 cross = 3; variantB: v2 + cross = 2
    assert got == [NS + "variantA"] * 3 + [NS + "variantB"] * 2


def test_union_datatype_reconciliation(spark):
    """One branch binds ?o as a literal, the other as an IRI: the
    union keeps BOTH terms with their kinds — joining a pattern that
    forces ?o into subject position keeps only the IRI row."""
    rows = [
        ("a", "p", "x", None),     # IRI object
        ("b", "q", "x", ""),       # literal object, same lexical
        ("x", "r", "1", ""),
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s ?o WHERE { { ?s <p> ?o } UNION { ?s <q> ?o } }"
    got = {(r.s, r.o) for r in sparql(df, q).collect()}
    assert got == {("a", "x"), ("b", "x")}
    q2 = "SELECT ?s ?o WHERE { ?o <r> ?n . { ?s <p> ?o } UNION { ?s <q> ?o } }"
    assert {(r.s, r.o) for r in sparql(df, q2).collect()} == {("a", "x")}


def test_union_mismatched_vars(spark):
    # round 6: branches may bind DIFFERENT variable sets — a var
    # missing from a branch is unbound (NULL) in that branch's rows
    df = _triples(spark, [("a", "p", "1", ""), ("b", "q", "2", "")])
    q = "SELECT ?s ?o ?w WHERE { { ?s <p> ?o } UNION { ?s <q> ?w } }"
    got = sorted(tuple(r) for r in sparql(df, q).collect())
    assert got == [("a", "1", None), ("b", None, "2")]


def test_union_only_group(spark):
    rows = [("a", "p", "1", ""), ("b", "q", "2", "")]
    df = _triples(spark, rows)
    q = "SELECT ?s WHERE { { ?s <p> ?o } UNION { ?s <q> ?o } }"
    assert sorted(r.s for r in sparql(df, q).collect()) == ["a", "b"]


def test_filter_bound_negation_by_failure(spark):
    """The classic OPTIONAL + !BOUND idiom: rows WITHOUT a label."""
    rows = [
        ("a", "p", "1", ""),
        ("a", "label", "Alpha", ""),
        ("b", "p", "2", ""),
    ]
    df = _triples(spark, rows)
    q = """SELECT ?s WHERE { ?s <p> ?v .
           OPTIONAL { ?s <label> ?l } FILTER(!bound(?l)) }"""
    assert {r.s for r in sparql(df, q).collect()} == {"b"}
    q2 = q.replace("!bound", "bound")
    assert {r.s for r in sparql(df, q2).collect()} == {"a"}
    # statically-absent var: bound() is false, !bound() keeps all
    q3 = "SELECT ?s WHERE { ?s <p> ?v . FILTER(!bound(?nope)) }"
    assert {r.s for r in sparql(df, q3).collect()} == {"a", "b"}


def test_filter_regex(spark):
    rows = [
        ("a", "name", "Alice Smith", ""),
        ("b", "name", "bob smith", ""),
        ("c", "name", "Carol Jones", ""),
    ]
    df = _triples(spark, rows)
    q = 'SELECT ?s WHERE { ?s <name> ?n . FILTER(regex(?n, "smith")) }'
    assert {r.s for r in sparql(df, q).collect()} == {"b"}
    qi = 'SELECT ?s WHERE { ?s <name> ?n . FILTER(regex(?n, "smith", "i")) }'
    assert {r.s for r in sparql(df, qi).collect()} == {"a", "b"}
    qa = 'SELECT ?s WHERE { ?s <name> ?n . FILTER(regex(?n, "^A") && regex(?n, "h$")) }'
    assert {r.s for r in sparql(df, qa).collect()} == {"a"}


def test_filter_function_parse_errors():
    with pytest.raises(ValueError, match="BOUND takes"):
        parse('SELECT ?s WHERE { ?s <p> ?v . FILTER(bound("x")) }')
    with pytest.raises(ValueError, match="REGEX takes"):
        parse("SELECT ?s WHERE { ?s <p> ?v . FILTER(regex(?v)) }")
    with pytest.raises(ValueError, match="REGEX takes"):
        parse("SELECT ?s WHERE { ?s <p> ?v . FILTER(regex(?v, ?w)) }")


def test_filter_on_absent_var_is_type_error_not_crash(spark):
    """A FILTER comparison over a variable with no binding column is a
    per-row type error (empty result), not an AnalysisException."""
    df = _triples(spark, [("a", "p", "1", "")])
    q = 'SELECT ?s WHERE { ?s <p> ?v . FILTER(?nope = "x") }'
    assert sparql(df, q).collect() == []
    q2 = "SELECT ?s WHERE { ?s <p> ?v . FILTER(!(?nope > 3)) }"
    assert sparql(df, q2).collect() == []  # error stays error under !


def test_property_path_plus_transitive(spark):
    """`<pred>+` — one-or-more path: the Jena transitive idiom,
    compiled to the materialized closure of the predicate's edges."""
    rows = [
        ("c:A", RDFS + "subClassOf", "c:B", None),
        ("c:B", RDFS + "subClassOf", "c:C", None),
        ("c:C", RDFS + "subClassOf", "c:D", None),
        # literal edge: cannot CONTINUE a path, but (since round 5,
        # per spec) it can END one — (c:X, "lit") is a length-1
        # solution
        ("c:X", RDFS + "subClassOf", "lit", ""),
    ]
    df = _triples(spark, rows)
    q = PREFIXES + "SELECT ?a ?b WHERE { ?a rdfs:subClassOf+ ?b }"
    got = {(r.a, r.b) for r in sparql(df, q).collect()}
    assert got == {
        ("c:A", "c:B"), ("c:A", "c:C"), ("c:A", "c:D"),
        ("c:B", "c:C"), ("c:B", "c:D"), ("c:C", "c:D"),
        ("c:X", "lit"),
    }
    # constant endpoint
    q2 = PREFIXES + "SELECT ?b WHERE { <c:A> rdfs:subClassOf+ ?b }"
    assert {r.b for r in sparql(df, q2).collect()} == {"c:B", "c:C", "c:D"}
    # joined with a non-path pattern sharing the path var
    rows2 = rows + [("c:D", "label", "Dee", "")]
    q3 = PREFIXES + "SELECT ?a ?l WHERE { ?a rdfs:subClassOf+ ?x . ?x <label> ?l }"
    got3 = {(r.a, r.l) for r in sparql(_triples(spark, rows2), q3).collect()}
    assert got3 == {("c:A", "Dee"), ("c:B", "Dee"), ("c:C", "Dee")}


def test_property_path_shadow_reconciliation(spark):
    """A path-bound var is an IRI: it must NOT join a same-lexical
    LITERAL binding from another pattern."""
    rows = [
        ("a", "p", "x", None),       # IRI edge a -p-> x
        ("s", "q", "x", ""),         # literal "x"
        ("s", "q", "a", None),       # IRI a
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s ?end WHERE { ?s <q> ?start . ?start <p>+ ?end }"
    # only the IRI binding ?start = a continues into the path
    assert {(r.s, r.end) for r in sparql(df, q).collect()} == {("s", "x")}


def test_property_path_rejected_in_template(spark):
    df = _triples(spark, [("a", "p", "b", None)])
    with pytest.raises(ValueError, match="property paths"):
        sparql(df, "CONSTRUCT { ?a <p>+ ?b } WHERE { ?a <p> ?b }")


# ----------------------------------------------------------- round-5 paths
def test_path_plus_self_loop_and_cycle(spark):
    """SPARQL OneOrMorePath yields (a, a) when a has a self-edge or
    lies on a cycle (round-4 advice: the strict closure lost these)."""
    rows = [
        ("c:A", "p", "c:A", None),              # self-edge
        ("c:A", "p", "c:B", None),
        ("c:C", "p", "c:D", None),              # 2-cycle
        ("c:D", "p", "c:C", None),
    ]
    got = {(r.a, r.b) for r in sparql(_triples(spark, rows),
           "SELECT ?a ?b WHERE { ?a <p>+ ?b }").collect()}
    assert got == {
        ("c:A", "c:A"), ("c:A", "c:B"),
        ("c:C", "c:D"), ("c:D", "c:C"), ("c:C", "c:C"), ("c:D", "c:D"),
    }


def test_path_star_identity_and_constant_endpoint(spark):
    """`p*` = `p+` ∪ zero-length identity over the graph's IRI node
    domain; a CONSTANT endpoint contributes its own (X, X) even when X
    is absent from the graph."""
    rows = [("c:A", "p", "c:B", None), ("c:Z", "q", "lit", "")]
    df = _triples(spark, rows)
    got = {(r.a, r.b) for r in sparql(df, "SELECT ?a ?b WHERE { ?a <p>* ?b }").collect()}
    # identity covers ALL graph IRI nodes (c:Z too), not just p's
    assert got == {
        ("c:A", "c:A"), ("c:A", "c:B"), ("c:B", "c:B"), ("c:Z", "c:Z"),
    }
    got2 = {r.b for r in sparql(df, "SELECT ?b WHERE { <c:NEW> <p>* ?b }").collect()}
    assert got2 == {"c:NEW"}  # zero-length match of the term itself


def test_path_sequence_and_alternative_bag_semantics(spark):
    """`/` joins steps; `|` unions branches keeping duplicates (the
    spec expands both without a DISTINCT)."""
    rows = [
        ("c:A", "p", "c:B", None),
        ("c:B", "q", "c:C", None),
        ("c:A", "q", "c:B", None),   # A reaches B under BOTH p and q
    ]
    df = _triples(spark, rows)
    seq = [(r.a, r.b) for r in sparql(df, "SELECT ?a ?b WHERE { ?a <p>/<q> ?b }").collect()]
    assert sorted(seq) == [("c:A", "c:C")]
    alt = sorted((r.a, r.b) for r in sparql(df, "SELECT ?a ?b WHERE { ?a <p>|<q> ?b }").collect())
    assert alt == [("c:A", "c:B"), ("c:A", "c:B"), ("c:B", "c:C")]  # dup kept


def test_path_literal_tail_and_typed_literal_endpoint(spark):
    """A path may END at a literal (the final step only); the bound
    var carries the literal's datatype shadow, and a literal CONSTANT
    endpoint matches datatype-exactly."""
    rows = [
        ("c:A", "p", "c:B", None),
        ("c:B", "p", "5", "http://www.w3.org/2001/XMLSchema#integer"),
        ("c:X", "p", "5", ""),  # plain-literal 5 — a different term
    ]
    df = _triples(spark, rows)
    q = ('PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> '
         'SELECT ?a WHERE { ?a <p>+ "5"^^xsd:integer }')
    assert {r.a for r in sparql(df, q).collect()} == {"c:A", "c:B"}
    q2 = 'SELECT ?a WHERE { ?a <p>+ "5" }'
    assert {r.a for r in sparql(df, q2).collect()} == {"c:X"}


def test_path_nested_star_in_sequence(spark):
    """`p/q*` — a nested star composes through the graph-domain
    identity (zero q-steps keeps the p endpoint)."""
    rows = [
        ("c:A", "p", "c:B", None),
        ("c:B", "q", "c:C", None),
    ]
    got = {(r.a, r.b) for r in sparql(_triples(spark, rows),
           "SELECT ?a ?b WHERE { ?a <p>/<q>* ?b }").collect()}
    assert got == {("c:A", "c:B"), ("c:A", "c:C")}


def test_path_rejected_forms(spark):
    df = _triples(spark, [("c:A", "p", "c:B", None)])
    with pytest.raises(ValueError):  # path in CONSTRUCT template
        sparql(df, "CONSTRUCT { ?a <p>+ ?b } WHERE { ?a <p> ?b }")
    with pytest.raises(ValueError):  # var inside a path
        sparql(df, "SELECT ?a WHERE { ?a <p>/?x ?b }")


def test_pattern_after_optional_written_order(spark):
    """Round 6: { P1 OPTIONAL {O} P2 } evaluates IN WRITTEN ORDER —
    Join(LeftJoin(P1, O), P2) with SPARQL compatibility: a solution
    whose optional var stayed unbound is compatible with EVERY P2
    binding of it (and takes P2's value); a bound one must term-match
    (the round-4/5 parse-time rejection is gone)."""
    rows = VERSION_ROWS + [(NS + "part13", RDF + "type", NS + "PNR", None)]
    df = _triples(spark, rows)
    q = PREFIXES + """SELECT ?x ?w WHERE {
        ?x a ns1:PNR .
        OPTIONAL { ?x ns1v1:applicable_to ?w }
        ?w a ns1:Variant .
    }"""
    got = {(r.x, r.w) for r in sparql(df, q).collect()}
    assert got == {
        (NS + "part12", NS + "variantA"),        # bound: must match
        (NS + "part13", NS + "variantA"),        # unbound: compatible
        (NS + "part13", NS + "variantB"),        # with every Variant
    }


def test_minus_after_optional_written_order(spark):
    """MINUS after an OPTIONAL sharing its var: the spec's definition
    applies — removal needs a compatible solution AND a dom-overlap on
    a var bound in BOTH, so rows whose optional var stayed unbound
    survive (they share no bound var with the MINUS side)."""
    rows = VERSION_ROWS + [(NS + "part13", RDF + "type", NS + "PNR", None)]
    df = _triples(spark, rows)
    q = PREFIXES + """SELECT ?x WHERE {
        ?x a ns1:PNR .
        OPTIONAL { ?x ns1v1:applicable_to ?w }
        MINUS { ?w a ns1:Variant }
    }"""
    got = {r.x for r in sparql(df, q).collect()}
    assert got == {NS + "part13"}  # part12's w=variantA is removed


def test_pattern_after_optional_disjoint_vars_ok(spark):
    """A post-OPTIONAL pattern sharing only vars bound BEFORE the
    OPTIONAL is hoist-safe (Join/LeftJoin commute there) and stays in
    subset."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """SELECT ?x ?w ?t WHERE {
        ?x a ns1:PNR .
        OPTIONAL { ?x ns1v1:applicable_to ?w }
        ?x ns1v2:applicable_to ?t .
    }"""
    got = {(r.x, r.w, r.t) for r in sparql(df, q).collect()}
    assert got == {
        (NS + "part12", NS + "variantA", NS + "variantA"),
        (NS + "part12", NS + "variantA", NS + "variantB"),
    }


# ------------------------------------------------------ round-5 EXISTS
def test_not_exists_vs_minus_disjoint_domain(spark):
    """The classic divergence: with NO shared variables, MINUS is a
    no-op but NOT EXISTS is a pure existence probe that drops every
    row when the inner pattern has any solution."""
    df = _triples(spark, VERSION_ROWS)
    keep_all = PREFIXES + """SELECT ?v WHERE {
        ?v a ns1:Variant .
        MINUS { ?other a ns1:PNR }
    }"""
    assert len(sparql(df, keep_all).collect()) == 2
    drop_all = PREFIXES + """SELECT ?v WHERE {
        ?v a ns1:Variant .
        FILTER NOT EXISTS { ?other a ns1:PNR }
    }"""
    assert sparql(df, drop_all).collect() == []
    # inner pattern with NO solutions: every row kept
    keep_all2 = PREFIXES + """SELECT ?v WHERE {
        ?v a ns1:Variant .
        FILTER NOT EXISTS { ?other a ns1:Nonexistent }
    }"""
    assert len(sparql(df, keep_all2).collect()) == 2


def test_exists_correlated_semi_join(spark):
    """Correlated EXISTS -> left semi on the shared vars; the
    parenthesized FILTER(NOT EXISTS {...}) form parses too."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """SELECT DISTINCT ?x WHERE {
        ?x ns1v2:applicable_to ?z .
        FILTER EXISTS { ?x ns1v1:applicable_to ?w }
    }"""
    assert {r.x for r in sparql(df, q).collect()} == {NS + "part12"}
    q2 = PREFIXES + """SELECT DISTINCT ?z WHERE {
        ?x ns1v2:applicable_to ?z .
        FILTER(NOT EXISTS { ?y ns1v1:applicable_to ?z })
    }"""
    # variantA is v1-stated -> only variantB survives
    assert {r.z for r in sparql(df, q2).collect()} == {NS + "variantB"}


def test_exists_datatype_boundary(spark):
    """EXISTS correlation is TERM-based: a literal binding never
    matches an IRI binding with the same lexical form."""
    rows = [
        ("s1", "p", "x", ""),      # literal "x"
        ("s2", "p", "x", None),    # IRI x
        ("x", "q", "ok", ""),      # only the IRI x has a q edge
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s WHERE { ?s <p> ?v . FILTER EXISTS { ?v <q> ?w } }"
    assert {r.s for r in sparql(df, q).collect()} == {"s2"}


def test_minus_before_optional_written_order(spark):
    """Round 6: a MINUS written BEFORE an OPTIONAL applies at its own
    position — there ?w is not yet in the domain, so the MINUS is the
    spec's disjoint-domain no-op, and the OPTIONAL then extends the
    surviving rows (the ordering DIFFERS from the MINUS-after case:
    compare test_minus_after_optional_written_order)."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """SELECT ?x ?w WHERE {
        ?x a ns1:PNR .
        MINUS { ?w a ns1:Variant }
        OPTIONAL { ?x ns1v1:applicable_to ?w }
    }"""
    got = {(r.x, r.w) for r in sparql(df, q).collect()}
    assert got == {(NS + "part12", NS + "variantA")}


# --------------------------------------------- round-5 VALUES / aggregates
def test_values_restricts_and_is_term_based(spark):
    rows = [
        ("s1", "p", "5", ""),      # plain literal
        ("s2", "p", "5", "http://www.w3.org/2001/XMLSchema#integer"),
        ("s3", "p", "5", None),    # IRI named 5
    ]
    df = _triples(spark, rows)
    q = ('PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> '
         'SELECT ?s WHERE { ?s <p> ?x . VALUES ?x { "5"^^xsd:integer } }')
    assert {r.s for r in sparql(df, q).collect()} == {"s2"}
    q2 = 'SELECT ?s WHERE { ?s <p> ?x . VALUES ?x { "5" } }'
    assert {r.s for r in sparql(df, q2).collect()} == {"s1"}
    q3 = 'SELECT ?s WHERE { ?s <p> ?x . VALUES ?x { <5> } }'
    assert {r.s for r in sparql(df, q3).collect()} == {"s3"}


def test_values_multi_var_and_bag_semantics(spark):
    rows = [
        ("s1", "p", "a", None),
        ("s1", "p", "b", None),
        ("s2", "q", "c", None),
    ]
    df = _triples(spark, rows)
    q = 'SELECT ?s ?o WHERE { ?s ?p ?o . VALUES (?s ?p) { (<s1> <p>) (<s2> <q>) } }'
    assert sorted((r.s, r.o) for r in sparql(df, q).collect()) == [
        ("s1", "a"), ("s1", "b"), ("s2", "c"),
    ]
    # an all-UNDEF single-var block restricts nothing (round 6)
    q_undef = 'SELECT ?s WHERE { ?s <p> ?x . VALUES ?x { UNDEF } }'
    assert sorted(r.s for r in sparql(df, q_undef).collect()) == ["s1", "s1"]
    with pytest.raises(ValueError, match="width"):
        sparql(df, 'SELECT ?s WHERE { ?s ?p ?o . VALUES (?s ?p) { (<s1>) } }')
    with pytest.raises(ValueError, match="duplicate"):
        sparql(df, 'SELECT ?s WHERE { ?s ?p ?o . VALUES (?s ?s) { (<a> <b>) } }')


def test_aggregates_count_group_by(spark):
    rows = [
        ("p:1", "v", "3", ""), ("p:1", "v", "7", ""), ("p:2", "v", "3", ""),
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s (COUNT(?x) AS ?n) WHERE { ?s <v> ?x } GROUP BY ?s"
    assert sorted((r.s, r.n) for r in sparql(df, q).collect()) == [
        ("p:1", 2), ("p:2", 1),
    ]
    # global group (no GROUP BY), SUM coercion, COUNT(*)
    q2 = "SELECT (COUNT(*) AS ?n) (SUM(?x) AS ?t) WHERE { ?s <v> ?x }"
    assert [(r.n, r.t) for r in sparql(df, q2).collect()] == [(3, 13.0)]


def test_count_distinct_is_term_based_and_skips_unbound(spark):
    rows = [
        ("s1", "p", "5", ""),
        ("s2", "p", "5", "http://www.w3.org/2001/XMLSchema#integer"),
        ("s3", "q", "z", None),
    ]
    df = _triples(spark, rows)
    # "5" plain and "5"^^int are two TERMS
    q = "SELECT (COUNT(DISTINCT ?x) AS ?n) WHERE { ?s <p> ?x }"
    assert [r.n for r in sparql(df, q).collect()] == [2]
    # unbound (OPTIONAL-missed) rows don't count
    q2 = ("SELECT (COUNT(?w) AS ?n) (COUNT(*) AS ?all) WHERE { "
          "?s ?p ?x . OPTIONAL { ?s <q> ?w } }")
    row = sparql(df, q2).collect()[0]
    assert (row.n, row.all) == (1, 3)


def test_aggregate_projection_rules(spark):
    df = _triples(spark, [("s", "p", "o", None)])
    with pytest.raises(ValueError, match="non-grouped"):
        sparql(df, "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <p> ?o }")
    with pytest.raises(ValueError, match="DISTINCT with aggregates"):
        sparql(df, "SELECT DISTINCT (COUNT(?o) AS ?n) WHERE { ?s <p> ?o }")
    with pytest.raises(ValueError, match="AS"):
        sparql(df, "SELECT (COUNT(?o)) WHERE { ?s <p> ?o }")


def test_having_filters_groups(spark):
    rows = [
        ("p:1", "v", "3", ""), ("p:1", "v", "7", ""), ("p:1", "v", "9", ""),
        ("p:2", "v", "3", ""),
    ]
    df = _triples(spark, rows)
    q = ("SELECT ?s (COUNT(?x) AS ?n) WHERE { ?s <v> ?x } "
         "GROUP BY ?s HAVING(?n >= 2)")
    assert [(r.s, r.n) for r in sparql(df, q).collect()] == [("p:1", 3)]
    with pytest.raises(ValueError, match="HAVING requires"):
        sparql(df, "SELECT ?s WHERE { ?s <v> ?x } HAVING(?s > 1)")


def test_ask_form(spark):
    df = _triples(spark, VERSION_ROWS)
    r = sparql(df, PREFIXES + "ASK WHERE { ?x a ns1:Variant }").collect()
    assert [tuple(x) for x in r] == [(True,)]
    r2 = sparql(df, PREFIXES + "ASK { ?x a ns1:Nonexistent }").collect()
    assert [tuple(x) for x in r2] == [(False,)]
    # ASK composes with the full group grammar (FILTER NOT EXISTS)
    r3 = sparql(df, PREFIXES + """ASK {
        ?x a ns1:Variant . FILTER NOT EXISTS { ?x a ns1:PNR }
    }""").collect()
    assert [tuple(x) for x in r3] == [(True,)]


def test_path_inverse(spark):
    """`^p` swaps subject and object; composes with seq/closure
    (child/parent idioms); literal-object steps cannot invert."""
    rows = [
        ("c:A", "p", "c:B", None),
        ("c:B", "p", "c:C", None),
        ("c:X", "p", "lit", ""),
    ]
    df = _triples(spark, rows)
    got = {(r.a, r.b) for r in sparql(df, "SELECT ?a ?b WHERE { ?a ^<p> ?b }").collect()}
    assert got == {("c:B", "c:A"), ("c:C", "c:B")}  # lit edge cannot invert
    # sibling idiom: ^p/p = nodes sharing a parent (incl. self)
    sib = {(r.a, r.b) for r in sparql(df, "SELECT ?a ?b WHERE { ?a ^<p>/<p> ?b }").collect()}
    assert sib == {("c:B", "c:B"), ("c:C", "c:C")}
    # inverse closure == closure of inverse
    inv_plus = {(r.a, r.b) for r in sparql(df, "SELECT ?a ?b WHERE { ?a (^<p>)+ ?b }").collect()}
    assert inv_plus == {("c:B", "c:A"), ("c:C", "c:B"), ("c:C", "c:A")}


def test_nested_group_merge_keeps_values_and_exists(spark):
    """Round-5 advice (high): the no-UNION nested-group merge used to
    drop inner VALUES and FILTER [NOT] EXISTS members, silently
    WIDENING the result instead of restricting it."""
    rows = [
        ("s1", "p", "1", ""),
        ("s2", "p", "2", ""),
        ("s2", "q", "x", None),
    ]
    df = _triples(spark, rows)
    # inner VALUES must restrict ?v to "1"
    q = 'SELECT ?s WHERE { { ?s <p> ?v . VALUES ?v { "1" } } }'
    assert {r.s for r in sparql(df, q).collect()} == {"s1"}
    # inner FILTER EXISTS must restrict to subjects with a <q> triple
    q2 = "SELECT ?s WHERE { { ?s <p> ?v . FILTER EXISTS { ?s <q> ?w } } }"
    assert {r.s for r in sparql(df, q2).collect()} == {"s2"}
    # inner FILTER NOT EXISTS: the complement
    q3 = "SELECT ?s WHERE { { ?s <p> ?v . FILTER NOT EXISTS { ?s <q> ?w } } }"
    assert {r.s for r in sparql(df, q3).collect()} == {"s1"}


def test_values_after_optional_written_order(spark):
    """Round 6: a VALUES-only OPTIONAL sharing no var with the group
    is still the cartesian-extension rejection; a VALUES block AFTER
    an OPTIONAL sharing its var evaluates at its position with
    compatibility semantics (the unbound side takes the VALUES
    term)."""
    df = _triples(spark, [("s1", "p", "1", "")])
    q = ('SELECT ?s WHERE { ?s <p> ?x . '
         'OPTIONAL { VALUES ?v { "1" } } ?t <q> ?v }')
    with pytest.raises(ValueError, match="OPTIONAL"):
        sparql(df, q)
    q2 = ('SELECT ?s ?v WHERE { ?s <p> ?x . '
          'OPTIONAL { ?s <q> ?v } VALUES ?v { "1" } }')
    got = [tuple(r) for r in sparql(df, q2).collect()]
    assert got == [("s1", "1")]  # unbound ?v merged with the VALUES term


def test_path_constant_endpoint_pushdown(spark):
    """Round-6: `:x p+ ?y` / `?x p+ :y` take the seed-constrained BFS
    route; results identical to the full-closure semantics, incl.
    cycle reflexivity, literal tails, and `*` zero-length identity."""
    rows = [
        ("c:A", "p", "c:B", None),
        ("c:B", "p", "c:C", None),
        ("c:C", "p", "c:A", None),  # cycle back
        ("c:C", "p", "lit9", ""),   # literal tail off the cycle
        ("c:Z", "p", "c:Z2", None),  # unreachable from c:A
    ]
    df = _triples(spark, rows)
    plus = {
        (r.b,) for r in sparql(df, "SELECT ?b WHERE { <c:A> <p>+ ?b }").collect()
    }
    assert plus == {("c:A",), ("c:B",), ("c:C",), ("lit9",)}
    # constant OBJECT: who reaches c:A (everyone on the cycle, incl. A)
    to_a = {(r.a,) for r in sparql(df, "SELECT ?a WHERE { ?a <p>+ <c:A> }").collect()}
    assert to_a == {("c:A",), ("c:B",), ("c:C",)}
    # star keeps the zero-length identity even off-graph
    star = {(r.b,) for r in sparql(df, "SELECT ?b WHERE { <c:NOPE> <p>* ?b }").collect()}
    assert star == {("c:NOPE",)}
    # star object-const
    star_o = {(r.a,) for r in sparql(df, "SELECT ?a WHERE { ?a <p>* <c:Z2> }").collect()}
    assert star_o == {("c:Z",), ("c:Z2",)}
    # both endpoints constant: membership probe
    both = sparql(df, "SELECT ?x WHERE { <c:B> <p>+ <c:A> . <c:A> <p> ?x }")
    assert {(r.x,) for r in both.collect()} == {("c:B",)}
    # literal endpoint with const subject goes through the seeded route
    lit = sparql(df, 'SELECT ?x WHERE { <c:A> <p>+ "lit9" . <c:A> <p> ?x }')
    assert {(r.x,) for r in lit.collect()} == {("c:B",)}
    # literal CONST object with var subject falls back to full closure
    lit2 = {(r.a,) for r in sparql(df, 'SELECT ?a WHERE { ?a <p>+ "lit9" }').collect()}
    assert lit2 == {("c:A",), ("c:B",), ("c:C",)}


def test_path_constant_pushdown_matches_full_closure(spark):
    """The pushdown is a plan change only: seeded answers equal the
    full-closure-then-filter answers on a random-ish graph."""
    import random

    rng = random.Random(6)
    nodes = [f"n:{i}" for i in range(40)]
    rows = [
        (rng.choice(nodes), "p", rng.choice(nodes), None) for _ in range(80)
    ] + [("n:1", "p", "leaf", "")]
    df = _triples(spark, rows).distinct()
    # full closure route (both endpoints variable), filtered in Python
    full = {
        (r.a, r.b)
        for r in sparql(df, "SELECT ?a ?b WHERE { ?a <p>+ ?b }").collect()
    }
    for seed in ("n:0", "n:7"):
        seeded = {
            (seed, r.b)
            for r in sparql(df, f"SELECT ?b WHERE {{ <{seed}> <p>+ ?b }}").collect()
        }
        assert seeded == {(a, b) for a, b in full if a == seed}
        seeded_o = {
            (r.a, seed)
            for r in sparql(df, f"SELECT ?a WHERE {{ ?a <p>+ <{seed}> }}").collect()
        }
        assert seeded_o == {(a, b) for a, b in full if b == seed}


#: a 3-cycle a→b→c→a with an exit c→d, a self-edge s→s, a disconnected
#: x→y, and literal tails off a (plain), off b (plain, same lexical form
#: as the IRI c) and off d (typed)
_DT = "http://www.w3.org/2001/XMLSchema#integer"
_SEEDED_ROWS = [
    ("a", "p", "b", None), ("b", "p", "c", None), ("c", "p", "a", None),
    ("c", "p", "d", None), ("s", "p", "s", None), ("x", "p", "y", None),
    ("a", "p", "la", ""), ("b", "p", "c", ""), ("d", "p", "7", _DT),
    ("a", "q", "x", None),  # another predicate: never a step
]


def _endpoint_rows(df, s, o) -> set:
    """Path pairs (src, dst, dst_dt) matching the constant endpoints."""
    out = set()
    for r in df.collect():
        if isinstance(s, Iri) and r.src != s.value:
            continue
        if isinstance(o, Iri) and (r.dst != o.value or r.dst_dt is not None):
            continue
        if isinstance(o, Lit) and (r.dst != o.value or r.dst_dt != (o.dt or "")):
            continue
        out.add((r.src, r.dst, r.dst_dt))
    return out


@pytest.mark.parametrize("path_type", ["plus", "star"])
@pytest.mark.parametrize(
    "s, o",
    [
        (Iri("a"), Var("y")), (Iri("s"), Var("y")), (Iri("d"), Var("y")),
        (Iri("nope"), Var("y")),
        (Var("x"), Iri("a")), (Var("x"), Iri("s")), (Var("x"), Iri("y")),
        (Var("x"), Iri("nope")),
        (Iri("a"), Iri("d")), (Iri("a"), Iri("x")), (Iri("a"), Lit("7", _DT)),
        (Iri("b"), Lit("c")),
    ],
    ids=lambda t: f"{type(t).__name__}:{getattr(t, 'value', getattr(t, 'name', ''))}",
)
def test_seeded_path_driver_matches_distributed(spark, path_type, s, o):
    """The seeded path's driver answer (one bounded probe of the step
    relation, walked on the driver) equals the forced distributed
    route (frontier BFS + literal-tail join, `max_driver_edges=0`) and
    the full closure filtered to the constant endpoints, with the
    constant's zero-length row under `*`: cycles, self-edges, literal
    tails off the seed and off reached nodes, a seed absent from the
    graph, constant subject, object or both."""
    from kgforge.sparql import PathPlus, PathStar, _path_df, _seeded_path_df

    df = _triples(spark, _SEEDED_ROWS)
    path = (PathPlus if path_type == "plus" else PathStar)(Iri("p"))
    driver = _endpoint_rows(_seeded_path_df(df, path, s, o), s, o)
    dist = _endpoint_rows(_seeded_path_df(df, path, s, o, max_driver_edges=0), s, o)
    full = _path_df(df, path)
    consts = sorted({t.value for t in (s, o) if isinstance(t, Iri)})
    if path_type == "star":
        full = full.unionByName(
            _triples(spark, [(c, c, None, None) for c in consts]).selectExpr(
                "subj AS src", "pred AS dst", "obj_dt AS dst_dt"
            )
        )
    assert driver == dist == _endpoint_rows(full, s, o)


def test_seeded_path_query_fires_one_job(spark, tmp_path, count_jobs):
    """`<s> p+ ?y` over an opened multi-file table is one Spark job from
    build to collect: the bounded probe of the step relation. The
    answer comes back as a local relation, so collecting it scans,
    joins and dedups nothing."""
    path = str(tmp_path / "kg")
    _triples(spark, _SEEDED_ROWS).repartition(4).write.parquet(path)
    table = spark.read.parquet(path)
    jobs, got = count_jobs(
        lambda: sparql(table, "SELECT ?y WHERE { <a> <p>+ ?y }").collect()
    )
    assert jobs == 1
    # the IRI c and the plain literal "c" are two solutions
    assert sorted(r.y for r in got) == ["7", "a", "b", "c", "c", "d", "la"]


def test_union_of_local_branches_runs_no_job(spark, tmp_path, count_jobs):
    """A UNION of two driver-answered seeded paths is built on the
    driver as one local relation: each branch's bounded probe is a job
    at build time, and collecting the answer runs none (a Spark Union
    of the two local relations ran jobs to scan and union them)."""
    path = str(tmp_path / "kg")
    _triples(spark, _SEEDED_ROWS).repartition(4).write.parquet(path)
    table = spark.read.parquet(path)
    q = "SELECT ?n WHERE { { <a> <p>+ ?n } UNION { ?n <p>+ <d> } }"
    build, df = count_jobs(lambda: sparql(table, q))
    assert build == 2
    jobs, got = count_jobs(df.collect)
    assert jobs == 0
    assert sorted(r.n for r in got) == ["7", "a", "a", "b", "b", "c", "c", "c", "d", "la"]


def test_local_union_equals_spark_union(spark, monkeypatch):
    """The driver-built union of local branches has the rows and schema
    of Spark's union: unbound vars (a var one branch does not bind, and
    UNDEF), and datatype shadows (typed and plain literals next to IRIs
    under one var), read back through DATATYPE()."""
    import kgforge.session

    df = _triples(spark, _SEEDED_ROWS)
    q = f"""SELECT ?x ?y ?z ?t WHERE {{
        {{ VALUES (?x ?y) {{ (<a> "1"^^<{_DT}>) (<b> UNDEF) ("lit" "2") }} }}
        UNION {{ VALUES ?z {{ <c> "3"^^<{_DT}> }} }}
        UNION {{ <a> <p>+ ?y }}
        BIND(DATATYPE(?y) AS ?t)
    }}"""
    local = sparql(df, q)
    assert kgforge.session.is_local(local)
    with monkeypatch.context() as m:
        m.setattr(kgforge.session, "is_local", lambda _df: False)
        distributed = sparql(df, q)
        assert not kgforge.session.is_local(distributed)
    assert local.schema == distributed.schema
    rows = sorted((tuple(r) for r in local.collect()), key=repr)
    assert rows == sorted((tuple(r) for r in distributed.collect()), key=repr)
    assert len(rows) == 12 and (None, None, "3", None) in rows


@pytest.mark.parametrize("query, rows, hints", [
    ("SELECT ?x WHERE { VALUES ?x { <a> <b> } }", [("a",), ("b",)], 0),
    (
        "SELECT ?x ?y WHERE { { VALUES ?x { <a> } } UNION { ?x <q> ?y } }",
        [("a", None), ("a", "x")],
        0,
    ),
    ("SELECT ?x ?y WHERE { VALUES ?x { <a> } ?x <q> ?y }", [("a", "x")], 1),
])
def test_values_broadcast_only_at_a_join(spark, query, rows, hints):
    """A VALUES block is broadcast only where it meets a join: alone in
    its group or in a UNION branch the hint would attach to no join (and
    Spark would log it as unattached on every analysis)."""
    out = sparql(_triples(spark, _SEEDED_ROWS), query)
    qe = out._jdf.queryExecution()
    assert qe.analyzed().toString().count("ResolvedHint") == hints
    assert qe.optimizedPlan().toString().count("strategy=broadcast") == hints
    assert sorted((tuple(r) for r in out.collect()), key=repr) == sorted(rows, key=repr)


@pytest.mark.parametrize("query, answer", [
    ("ASK { <a> <p> ?y }", True),
    ("ASK { <a> <nope> ?y }", False),
    ("ASK { <a> <p> <b> }", True),  # no variables: a zero-column probe
    ("ASK { <a> <p> <d> }", False),
])
def test_ask_fires_one_job(spark, tmp_path, count_jobs, query, answer):
    """ASK over an opened multi-file table is one Spark job, for a true
    and a false answer alike: the bounded probe fetches at most one
    solution, where `limit(1).count()` ran two jobs."""
    path = str(tmp_path / "kg")
    _triples(spark, _SEEDED_ROWS).repartition(4).write.parquet(path)
    table = spark.read.parquet(path)
    jobs, got = count_jobs(lambda: sparql(table, query).collect())
    assert jobs == 1
    assert [r.ask for r in got] == [answer]


def test_bind_arithmetic_and_typing(spark):
    """BIND (round-6): integer arithmetic stays xsd:integer, any
    double operand promotes to xsd:double, non-numeric operands make
    the target unbound, / always evaluates in double."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("s1", "v", "3", XSD_INT),
        ("s2", "v", "10", XSD_INT),
        ("s3", "v", "2.5", ""),   # plain numeric literal: promoted
        ("s4", "v", "junk", ""),  # non-numeric: BIND -> unbound
    ]
    df = _triples(spark, rows)
    got = {
        (r.s, r.n)
        for r in sparql(
            df, "SELECT ?s ?n WHERE { ?s <v> ?x . BIND(?x + 1 AS ?n) }"
        ).collect()
    }
    assert got == {("s1", "4"), ("s2", "11"), ("s3", "3.5"), ("s4", None)}
    got2 = {
        (r.s, r.d, r.h)
        for r in sparql(
            df, "SELECT ?s ?d ?h WHERE { ?s <v> ?x . "
                "BIND(?x * 2 AS ?d) BIND(?x / 2 AS ?h) }"
        ).collect()
    }
    assert got2 == {
        ("s1", "6", "1.5"), ("s2", "20", "5.0"),
        ("s3", "5.0", "1.25"), ("s4", None, None),
    }
    # BIND target joins downstream: FILTER on it, typed numerically
    got3 = {
        r.s
        for r in sparql(
            df, "SELECT ?s WHERE { ?s <v> ?x . BIND(?x + 1 AS ?n) . "
                "FILTER(?n > 4) }"
        ).collect()
    }
    assert got3 == {"s2"}  # 11 > 4 numerically (lexically it is not)
    # a BIND may read an earlier BIND
    got4 = {
        (r.s, r.m)
        for r in sparql(
            df, "SELECT ?s ?m WHERE { ?s <v> ?x . BIND(?x + 1 AS ?n) "
                "BIND(?n * 10 AS ?m) }"
        ).collect()
    }
    assert ("s1", "40") in got4


def test_bind_string_functions(spark):
    rows = [("s1", "v", "abC", ""), ("s2", "v", "x", None)]  # lit + IRI
    df = _triples(spark, rows)
    q = ("SELECT ?s ?c ?l ?u WHERE { ?s <v> ?x . "
         'BIND(CONCAT("p:", STR(?x)) AS ?c) BIND(STRLEN(?x) AS ?l) '
         "BIND(UCASE(?x) AS ?u) }")
    got = {(r.s, r.c, r.l, r.u) for r in sparql(df, q).collect()}
    assert got == {("s1", "p:abC", "3", "ABC"), ("s2", "p:x", "1", "X")}
    # binds-only group: the single empty solution extended
    got2 = [tuple(r) for r in sparql(df, "SELECT ?n WHERE { BIND(2+3 AS ?n) }").collect()]
    assert got2 == [("5",)]


def test_bind_rejections(spark):
    df = _triples(spark, [("s1", "v", "1", "")])
    with pytest.raises(ValueError, match="not bound by any preceding member"):
        sparql(df, "SELECT ?s WHERE { BIND(?y + 1 AS ?n) . ?s <v> ?y }")
    with pytest.raises(ValueError, match="already in scope"):
        sparql(df, "SELECT ?s WHERE { ?s <v> ?x . BIND(1 AS ?x) }")
    with pytest.raises(ValueError, match="out of subset"):
        sparql(df, "SELECT (COUNT(?x) AS ?c) (?x + 1 AS ?e) "
                   "WHERE { ?s <v> ?x } GROUP BY ?x")


def test_bind_target_joined_and_optional_operand(spark):
    """Round 6: a later pattern MAY join on a BIND target (ordered
    evaluation — the target is a real term by then, term-equality
    included), and an optionally-bound operand propagates its NULL to
    an unbound target (the spec's error value)."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    df = _triples(spark, [
        ("s1", "v", "1", ""),
        ("s1", "w", "2", XSD_INT),
        ("s2", "v", "3", ""),
    ])
    # BIND produces "2"^^xsd:integer — joins the typed <w> object only
    q = 'SELECT ?s WHERE { ?s <v> ?x . BIND(1+1 AS ?n) . ?s <w> ?n }'
    assert {r.s for r in sparql(df, q).collect()} == {"s1"}
    # optionally-bound operand: NULL propagates to the BIND target
    q2 = ('SELECT ?s ?n WHERE { ?s <v> ?x . '
          'OPTIONAL { ?s <w> ?o } BIND(?o + 1 AS ?n) }')
    got = {(r.s, r.n) for r in sparql(df, q2).collect()}
    assert got == {("s1", "3"), ("s2", None)}


def test_select_expressions(spark):
    rows = [("s1", "v", "3", ""), ("s2", "v", "10", "")]
    df = _triples(spark, rows)
    q = 'SELECT (CONCAT("v", ?x) AS ?tag) ?s WHERE { ?s <v> ?x }'
    out = sparql(df, q)
    assert out.columns == ["tag", "s"]  # projection order preserved
    assert {(r.tag, r.s) for r in out.collect()} == {("v3", "s1"), ("v10", "s2")}
    # DISTINCT over expression results is term-based
    q2 = "SELECT DISTINCT (STRLEN(?x) AS ?l) WHERE { ?s <v> ?x }"
    assert sorted(r.l for r in sparql(df, q2).collect()) == ["1", "2"]
    with pytest.raises(ValueError, match="alias"):
        sparql(df, "SELECT (1+1 AS ?x) ?x WHERE { ?s <v> ?x }")


def test_aggregates_avg_sample_group_concat(spark):
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("p:1", "v", "3", XSD_INT), ("p:1", "v", "7", XSD_INT),
        ("p:2", "v", "junk", ""),
        ("p:1", "w", "b", ""), ("p:1", "w", "a", ""), ("p:1", "w", "b", ""),
    ]
    df = _triples(spark, rows)
    q = "SELECT ?s (AVG(?x) AS ?a) WHERE { ?s <v> ?x } GROUP BY ?s"
    got = {(r.s, r.a) for r in sparql(df, q).collect()}
    assert got == {("p:1", 5.0), ("p:2", None)}  # non-numeric -> NULL
    # GROUP_CONCAT canonicalizes ascending; DISTINCT collapses dups
    q2 = ('SELECT ?s (GROUP_CONCAT(?y; SEPARATOR=",") AS ?g) '
          "(GROUP_CONCAT(DISTINCT ?y) AS ?gd) (SAMPLE(?y) AS ?m) "
          "WHERE { ?s <w> ?y } GROUP BY ?s")
    got2 = [tuple(r) for r in sparql(df, q2).collect()]
    assert got2 == [("p:1", "a,b,b", "a b", "a")]
    with pytest.raises(ValueError, match="SEPARATOR"):
        sparql(df, 'SELECT (SUM(?x; SEPARATOR=",") AS ?s) WHERE { ?s <v> ?x }')


# ------------------------------------------------- round-6 subqueries / UNDEF
def test_subquery_aggregate_join(spark):
    """{ SELECT ... GROUP BY } evaluates bottom-up; its projection
    joins the enclosing group on the shared vars. COUNT aliases carry
    xsd:integer terms (a typed-literal comparand in an outer FILTER
    reads them numerically)."""
    df = _triples(spark, VERSION_ROWS)
    q = PREFIXES + """SELECT ?x ?n WHERE {
        ?x a ns1:PNR .
        { SELECT ?x (COUNT(?w) AS ?n)
          WHERE { ?x ns1v2:applicable_to ?w } GROUP BY ?x }
    }"""
    got = {(r.x, r.n) for r in sparql(df, q).collect()}
    assert got == {(NS + "part12", "2")}
    # outer FILTER over the subquery alias, numeric promotion
    q2 = PREFIXES + """SELECT ?x WHERE {
        ?x a ns1:PNR .
        { SELECT ?x (COUNT(?w) AS ?n)
          WHERE { ?x ns1v2:applicable_to ?w } GROUP BY ?x }
        FILTER(?n > 1)
    }"""
    assert {r.x for r in sparql(df, q2).collect()} == {NS + "part12"}


def test_subquery_plain_distinct_limit(spark):
    """Plain SELECT DISTINCT subquery with ORDER BY / LIMIT: top-k
    computed independently, then joined."""
    rows = [
        ("s1", "p", "b", None), ("s2", "p", "a", None),
        ("s3", "p", "c", None), ("s2b", "p", "a", None),
    ]
    df = _triples(spark, rows)
    q = """SELECT ?s ?o WHERE {
        ?s <p> ?o .
        { SELECT DISTINCT ?o WHERE { ?x <p> ?o } ORDER BY ?o LIMIT 2 }
    }"""
    got = {(r.s, r.o) for r in sparql(df, q).collect()}
    assert got == {("s1", "b"), ("s2", "a"), ("s2b", "a")}


def test_subquery_min_preserves_term_datatype(spark):
    """MIN/SAMPLE inside a subquery carry the winning member's OWN
    datatype out (struct-agg), so the outer join stays term-exact."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    df = _triples(spark, [
        ("s1", "p", "5", XSD_INT),   # typed 5
        ("s2", "p", "5", ""),        # plain 5 — different term
        ("s1", "q", "5", XSD_INT),
        ("s2", "q", "5", XSD_INT),
    ])
    # the subquery min over s1's <p> objects is "5"^^xsd:integer; the
    # outer pattern ?s <q> ?m matches both subjects' typed objects
    q = """SELECT ?s ?m WHERE {
        ?s <q> ?m .
        { SELECT (MIN(?v) AS ?m) WHERE { <s1> <p> ?v } }
    }"""
    got = {(r.s, r.m) for r in sparql(df, q).collect()}
    assert got == {("s1", "5"), ("s2", "5")}
    # flip the inner subject: plain "5" matches NO typed <q> object
    q2 = """SELECT ?s ?m WHERE {
        ?s <q> ?m .
        { SELECT (MIN(?v) AS ?m) WHERE { <s2> <p> ?v } }
    }"""
    assert sparql(df, q2).count() == 0


def test_values_undef(spark):
    """UNDEF rows leave the var unbound — compatible with ANY binding
    (round 6); term-exact where bound."""
    df = _triples(spark, [
        ("a", "p", "x", None), ("b", "p", "y", None), ("c", "p", "z", None),
    ])
    q = """SELECT ?s ?o WHERE {
        ?s <p> ?o .
        VALUES (?s ?o) { (<a> UNDEF) (UNDEF <y>) }
    }"""
    got = sorted(tuple(r) for r in sparql(df, q).collect())
    assert got == [("a", "x"), ("b", "y")]
    # VALUES first, pattern after: same result (ordered evaluation)
    q2 = """SELECT ?s ?o WHERE {
        VALUES (?s ?o) { (<a> UNDEF) (UNDEF <y>) }
        ?s <p> ?o .
    }"""
    assert sorted(tuple(r) for r in sparql(df, q2).collect()) == got


def test_nested_group_merge_preserves_member_order(spark):
    """A braced non-UNION group splices its members at its POSITION:
    { P1 { OPTIONAL-bearing inner } P2 } must evaluate inner's
    OPTIONAL before P2 (round 6 ordered merge)."""
    rows = VERSION_ROWS + [(NS + "part13", RDF + "type", NS + "PNR", None)]
    df = _triples(spark, rows)
    q = PREFIXES + """SELECT ?x ?w WHERE {
        ?x a ns1:PNR .
        { OPTIONAL { ?x ns1v1:applicable_to ?w } }
        ?w a ns1:Variant .
    }"""
    got = {(r.x, r.w) for r in sparql(df, q).collect()}
    assert got == {
        (NS + "part12", NS + "variantA"),
        (NS + "part13", NS + "variantA"),
        (NS + "part13", NS + "variantB"),
    }


def test_path_zero_or_one(spark):
    """`p?` (round 6): single step ∪ zero-length identity — node
    domain for variable endpoints, the constant itself (even absent
    from the graph) for a constant endpoint; `<p>?y` without a space
    stays predicate + variable (longest-match tokenization)."""
    df = _triples(spark, [
        ("a", "p", "b", None), ("b", "p", "c", None), ("c", "q", "lit", ""),
    ])
    got = sorted(tuple(r) for r in sparql(
        df, "SELECT ?x ?y WHERE { ?x <p>? ?y }").collect())
    assert got == [("a", "a"), ("a", "b"), ("b", "b"), ("b", "c"), ("c", "c")]
    # constant endpoints: zero-length solution without the node-domain
    # scan; an absent constant still contributes (X, X)
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?y WHERE { <a> <p>? ?y }").collect()) == [("a",), ("b",)]
    assert [tuple(r) for r in sparql(
        df, "SELECT ?y WHERE { <zzz> <p>? ?y }").collect()] == [("zzz",)]
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?x WHERE { ?x <p>? <c> }").collect()) == [("b",), ("c",)]
    # longest-match: `<p>?y` is a plain predicate + object variable
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?x ?y WHERE { ?x <p>?y }").collect()) == [
        ("a", "b"), ("b", "c")]
    # nested in a sequence: identity over the node domain
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?x ?y WHERE { ?x <p>/<q>? ?y }").collect()) == [
        ("a", "b"), ("b", "c"), ("b", "lit")]


def test_string_predicates_in_filter(spark):
    """STRSTARTS / STRENDS / CONTAINS (round 6) over lexical forms; an
    unbound operand is a type error (row dropped)."""
    df = _triples(spark, [
        ("s1", "v", "hello world", ""), ("s2", "v", "goodbye", ""),
        ("s3", "w", "other", ""),
    ])
    q = 'SELECT ?s WHERE { ?s <v> ?x . FILTER(%s) }'
    assert [tuple(r) for r in sparql(
        df, q % 'STRSTARTS(?x, "hell")').collect()] == [("s1",)]
    assert [tuple(r) for r in sparql(
        df, q % 'STRENDS(?x, "bye")').collect()] == [("s2",)]
    assert [tuple(r) for r in sparql(
        df, q % 'CONTAINS(?x, "o w")').collect()] == [("s1",)]
    # unbound operand -> type error -> dropped, incl. under negation
    q2 = ('SELECT ?s WHERE { ?s <w> ?o . OPTIONAL { ?s <v> ?x } '
          'FILTER(!CONTAINS(?x, "z")) }')
    assert sparql(df, q2).count() == 0
    # value function as a comparison operand
    assert sorted(tuple(r) for r in sparql(
        df, q % "STRLEN(?x) > 6").collect()) == [("s1",), ("s2",)]


def test_value_functions_substr_replace_if_coalesce(spark):
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    df = _triples(spark, [
        ("s1", "v", "hello world", ""), ("s2", "v", "goodbye", ""),
        ("s3", "n", "42", XSD_INT), ("s3", "v", "Hello", ""),
    ])

    def rows(q):
        return sorted(tuple(r) for r in sparql(df, q).collect())

    base = "SELECT ?s ?u WHERE { ?s <v> ?x . BIND(%s AS ?u) }"
    assert rows(base % 'SUBSTR(?x, 1, 4)') == [
        ("s1", "hell"), ("s2", "good"), ("s3", "Hell")]
    # 2-arg SUBSTR runs to the end; past-the-end start -> empty string
    assert rows(base % 'SUBSTR(?x, 7)') == [
        ("s1", "world"), ("s2", "e"), ("s3", "")]
    assert rows(base % 'REPLACE(?x, "o", "0")') == [
        ("s1", "hell0 w0rld"), ("s2", "g00dbye"), ("s3", "Hell0")]
    # "i" flag, same XPath subset as REGEX
    assert rows(base % 'REPLACE(?x, "^h", "J", "i")') == [
        ("s1", "Jello world"), ("s2", "goodbye"), ("s3", "Jello")]
    assert rows(base % 'IF(STRLEN(?x) > 6, "long", "short")') == [
        ("s1", "long"), ("s2", "long"), ("s3", "short")]
    # COALESCE takes the first BOUND argument; IF over an unbound
    # operand is an error condition -> unbound target (spec rule)
    opt = ("SELECT ?s ?u WHERE { ?s <v> ?x . OPTIONAL { ?s <n> ?m } "
           "BIND(%s AS ?u) }")
    assert rows(opt % 'COALESCE(?m, "none")') == [
        ("s1", "none"), ("s2", "none"), ("s3", "42")]
    assert rows(opt % 'IF(?m > 1, "big", "small")') == [
        ("s1", None), ("s2", None), ("s3", "big")]
    # COALESCE carries the winning argument's datatype: ?m's
    # xsd:integer term-joins the typed <eq> object, the plain "42"
    # fallback joins the plain one (a later pattern joins a BIND
    # target TERM-exactly, shadows included)
    df2 = _triples(spark, [
        ("s3", "n", "42", XSD_INT), ("s3", "w", "1", ""),
        ("s1", "w", "1", ""),
        ("x", "eq", "42", XSD_INT), ("y", "eq", "42", ""),
    ])
    q2 = ("SELECT ?s ?e WHERE { ?s <w> ?t . OPTIONAL { ?s <n> ?m } "
          'BIND(COALESCE(?m, "42") AS ?u) ?e <eq> ?u . }')
    got = {tuple(r) for r in sparql(df2, q2).collect()}
    assert got == {("s3", "x"), ("s1", "y")}


def test_exists_substitution_semantics_after_optional(spark):
    """Round 6: FILTER [NOT] EXISTS correlated through a var an
    earlier OPTIONAL left unbound follows the spec's SUBSTITUTION
    rule — the unbound var is not substituted, so the inner pattern
    runs unconstrained on it (exists ⇔ inner nonempty); a bound var
    substitutes term-exactly."""
    df = _triples(spark, [
        ("s1", "p", "o", None),
        ("s2", "p", "o", None),
        ("s1", "opt", "w1", None),     # s1 gets ?w bound; s2 unbound
        ("w1", "q", "z", None),        # inner matches w1
        ("other", "q", "z", None),
    ])
    q = ("SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?s <opt> ?w } "
         "FILTER EXISTS { ?w <q> ?z } }")
    # s1: ?w=w1 substituted -> <w1 q z> exists  ✓
    # s2: ?w unbound -> inner `?w <q> ?z` unconstrained -> nonempty ✓
    got = sorted(tuple(r) for r in sparql(df, q).collect())
    assert got == [("s1",), ("s2",)]
    qn = ("SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { ?s <opt> ?w } "
          "FILTER NOT EXISTS { ?w <q> ?z } }")
    assert sparql(df, qn).count() == 0
    # bound var with NO inner match is dropped by EXISTS
    df2 = _triples(spark, [
        ("s1", "p", "o", None),
        ("s1", "opt", "nope", None),
        ("w1", "q", "z", None),
    ])
    assert sparql(df2, q).count() == 0
    assert [tuple(r) for r in sparql(df2, qn).collect()] == [("s1",)]


def test_negated_property_set(spark):
    """`!p` / `!(p1|p2)` (round 6): one forward step over any
    predicate NOT in the set; bag semantics, literal objects ride
    through; `^` members rejected."""
    df = _triples(spark, [
        ("a", "p", "b", None), ("a", "q", "c", None),
        ("a", "r", "lit", ""), ("b", "p", "d", None),
    ])
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?x ?y WHERE { ?x !<p> ?y }").collect()) == [
        ("a", "c"), ("a", "lit")]
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?x ?y WHERE { ?x !(<p>|<q>) ?y }").collect()) == [
        ("a", "lit")]
    # composes with sequences like any other path element
    assert sorted(tuple(r) for r in sparql(
        df, "SELECT ?x ?y WHERE { ?x <p>/!(<q>) ?y }").collect()) == [
        ("a", "d")]
    with pytest.raises(ValueError, match="out of subset"):
        sparql(df, "SELECT ?x ?y WHERE { ?x !(^<p>) ?y }")


def test_describe(spark):
    """DESCRIBE (round 6): deduped OUTGOING triples of constant
    targets and of the IRI bindings of WHERE-bound vars (literal
    bindings skipped — not describable subjects)."""
    df = _triples(spark, [
        ("a", "p", "b", None), ("a", "q", "1", ""),
        ("b", "p", "c", None), ("c", "p", "d", None),
    ])

    def rows(q):
        return sorted(tuple(r) for r in sparql(df, q).collect())

    assert rows("DESCRIBE <a>") == [
        ("a", "p", "b", None), ("a", "q", "1", "")]
    assert rows("DESCRIBE <a> <b>") == [
        ("a", "p", "b", None), ("a", "q", "1", ""), ("b", "p", "c", None)]
    assert rows("DESCRIBE ?x WHERE { ?x <p> <c> }") == [
        ("b", "p", "c", None)]
    # ?y binds the IRI b and the literal "1" — only b is described
    assert rows("DESCRIBE ?y WHERE { <a> ?p ?y }") == [
        ("b", "p", "c", None)]
    with pytest.raises(ValueError, match="needs a WHERE group"):
        sparql(df, "DESCRIBE ?x")
    with pytest.raises(ValueError, match="not bound in the WHERE"):
        sparql(df, "DESCRIBE ?z WHERE { ?x <p> ?y }")


def test_term_kind_and_datatype_functions(spark):
    """isIRI/isURI/isLiteral (unbound = type error, also under !),
    DATATYPE (typed -> its IRI, simple literal -> xsd:string,
    IRI/unbound -> error), and [NOT] IN =-chain sugar."""
    XSD = "http://www.w3.org/2001/XMLSchema#"
    df = _triples(spark, [
        ("s1", "v", "node", None),        # IRI object
        ("s2", "v", "plain", ""),          # simple literal
        ("s3", "v", "42", XSD + "integer"),
        ("s4", "w", "x", None),            # no <v> -> ?x unbound
    ])

    def rows(q):
        return sorted(tuple(r) for r in sparql(df, q).collect())

    base = "SELECT ?s WHERE { ?s <v> ?x . FILTER(%s) }"
    assert rows(base % "isIRI(?x)") == [("s1",)]
    assert rows(base % "isURI(?x)") == [("s1",)]
    assert rows(base % "isLiteral(?x)") == [("s2",), ("s3",)]
    # unbound operand is an error — NOT does not resurrect the row
    q_opt = ("SELECT ?s WHERE { ?s <w> ?o . OPTIONAL { ?s <v> ?x } "
             "FILTER(!isIRI(?x)) }")
    assert sparql(df, q_opt).count() == 0
    assert rows(
        "SELECT ?s ?d WHERE { ?s <v> ?x . BIND(DATATYPE(?x) AS ?d) }"
    ) == [("s1", None), ("s2", XSD + "string"), ("s3", XSD + "integer")]
    assert rows(
        f"PREFIX xsd: <{XSD}> " + base % "DATATYPE(?x) = xsd:integer"
    ) == [("s3",)]
    assert rows(base % '?x IN ("plain", "nope")') == [("s2",)]
    assert rows(base % '?x NOT IN ("plain")') == [("s1",), ("s3",)]
    assert rows(base % "?x IN ()") == []
    assert rows(base % "?x NOT IN ()") == [("s1",), ("s2",), ("s3",)]
