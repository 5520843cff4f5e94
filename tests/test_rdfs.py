"""RDFS closure: transitive hierarchy + type/property inheritance
(the consumption semantics of csv2rdf-v4/jena/requests.sparql)."""

from __future__ import annotations

from kgforge.rdfs import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASSOF,
    RDFS_SUBPROPERTYOF,
    rdfs_closure,
    transitive_closure,
)


def _triples_df(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_dt string"
    )


def tset(df):
    return {(r.subj, r.pred, r.obj, r.obj_dt) for r in df.collect()}


def test_transitive_closure_chain_and_cycle(spark):
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("X", "Y"), ("Y", "X")],
        "src string, dst string",
    )
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert got == {
        ("A", "B"), ("A", "C"), ("A", "D"),
        ("B", "C"), ("B", "D"), ("C", "D"),
        ("X", "Y"), ("Y", "X"),  # cycle closes without self-loops
    }


def test_transitive_closure_distributed_path_matches_driver(spark):
    """max_driver_edges=0 forces the iterative-doubling fallback; it
    must produce exactly the driver fast path's pair set."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("X", "Y"), ("Y", "X"), ("B", "E")],
        "src string, dst string",
    )
    fast = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    dist = {
        (r.src, r.dst)
        for r in transitive_closure(edges, max_driver_edges=0).collect()
    }
    assert fast == dist and ("A", "E") in fast


def test_rdfs_closure_type_and_property_inheritance(spark):
    rows = [
        ("c:A", RDFS_SUBCLASSOF, "c:B", None),
        ("c:B", RDFS_SUBCLASSOF, "c:C", None),
        ("p:p", RDFS_SUBPROPERTYOF, "p:q", None),
        ("p:q", RDFS_SUBPROPERTYOF, "p:r", None),
        ("e:x", RDF_TYPE, "c:A", None),
        ("e:x", "p:p", "42", "http://www.w3.org/2001/XMLSchema#int"),
        ("e:x", "p:p", "e:y", None),
    ]
    out = tset(rdfs_closure(_triples_df(spark, rows)))

    # transitive schema edge materialized
    assert ("c:A", RDFS_SUBCLASSOF, "c:C", None) in out
    assert ("p:p", RDFS_SUBPROPERTYOF, "p:r", None) in out
    # cax-sco: x typed up the closed chain
    assert ("e:x", RDF_TYPE, "c:B", None) in out
    assert ("e:x", RDF_TYPE, "c:C", None) in out
    # prp-spo1: literal rides with its datatype; IRI object stays IRI
    assert ("e:x", "p:q", "42", "http://www.w3.org/2001/XMLSchema#int") in out
    assert ("e:x", "p:r", "42", "http://www.w3.org/2001/XMLSchema#int") in out
    assert ("e:x", "p:q", "e:y", None) in out
    # input preserved
    assert set(rows) <= out

    inferred_only = tset(rdfs_closure(_triples_df(spark, rows), include_input=False))
    assert ("e:x", RDF_TYPE, "c:A", None) not in inferred_only
    assert ("e:x", RDF_TYPE, "c:C", None) in inferred_only


def test_rdfs_domain_range_entailment(spark):
    """rdfs2/rdfs3 incl. the chain cases: domain on a SUPERproperty
    fires through prp-spo1, and a range class inherits up the closed
    subClassOf hierarchy. Literals are never typed by rdfs3."""
    rows = [
        ("p:p", RDFS_DOMAIN, "c:Subj", None),
        ("p:p", RDFS_RANGE, "c:Obj", None),
        ("c:Obj", RDFS_SUBCLASSOF, "c:Top", None),
        ("p:p", RDFS_SUBPROPERTYOF, "p:q", None),
        ("p:q", RDFS_DOMAIN, "c:Agent", None),
        ("e:x", "p:p", "e:y", None),
        # literal objects: one plain ('' tag), one typed — rdfs3 must
        # skip both even though p:p has a declared range
        ("e:x", "p:p", "some text", ""),
        ("e:x", "p:p", "42", "http://www.w3.org/2001/XMLSchema#int"),
    ]
    out = tset(rdfs_closure(_triples_df(spark, rows)))
    assert ("e:x", RDF_TYPE, "c:Subj", None) in out      # rdfs2
    assert ("e:y", RDF_TYPE, "c:Obj", None) in out       # rdfs3
    assert ("e:y", RDF_TYPE, "c:Top", None) in out       # rdfs3 → cax-sco
    assert ("e:x", RDF_TYPE, "c:Agent", None) in out     # prp-spo1 → rdfs2
    # no literal was ever promoted to a typed node
    assert not any(s in ("some text", "42") for s, p, o, dt in out)


def test_rdfs_domain_range_from_grammar(spark):
    """Closure over schema triples ACTUALLY emitted by the v5 grammar
    compiler (G8/G11 rdfs:domain/rdfs:range, csv2rdf-v5/csv2rdf-v5.py:
    321-340): every instance triple of a domain-/range-declared
    predicate entails the corresponding rdf:type."""
    from kgforge.mapping.compile_ini import compile_v5
    from kgforge.triples.emit import emit_triples

    grammar = """
[PNR]
cellrole = pkey
celltype = pnr

[SRV]
cellrole = object
celltype = nation
columntype = serviced_to

[ADT]
cellrole = object
celltype = string
columntype = part_description
"""
    d = "http://example.org/kg/"
    spec = compile_v5(d, grammar, ["PNR", "SRV", "ADT"])
    df = spark.createDataFrame(
        [("p1", "germany", "first part"), ("p2", "france", "second part")],
        "PNR string, SRV string, ADT string",
    )
    triples = emit_triples(df, spec)
    base = tset(triples)
    dom = {s: o for s, p, o, dt in base if p == RDFS_DOMAIN}
    rng = {s: o for s, p, o, dt in base if p == RDFS_RANGE}
    assert dom and rng, "grammar fixture must emit domain/range schema triples"

    out = tset(rdfs_closure(triples))
    checked = 0
    for s, p, o, dt in base:
        if p in dom and dt is None:
            assert (s, RDF_TYPE, dom[p], None) in out
            checked += 1
        if p in rng and dt is None:
            assert (o, RDF_TYPE, rng[p], None) in out
            checked += 1
    assert checked > 0, "fixture must contain instance triples of declared preds"
    # literal cells (ADT strings) must not appear as typed subjects
    assert not any(s in ("first part", "second part") for s, p, o, dt in out)


def test_rdfs_subproperty_of_rdf_type_feeds_cax_sco(spark):
    """(s p C) with p ⊑ rdf:type and C subClassOf+ D must yield
    (s rdf:type D): prp-spo1-minted type rows join cax-sco too
    (round-3 advice fix)."""
    rows = [
        ("p:instanceOf", RDFS_SUBPROPERTYOF, RDF_TYPE, None),
        ("c:Cat", RDFS_SUBCLASSOF, "c:Animal", None),
        ("e:tom", "p:instanceOf", "c:Cat", None),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_dt string"
    )
    out = {tuple(r) for r in rdfs_closure(df).collect()}
    assert ("e:tom", RDF_TYPE, "c:Cat", None) in out       # prp-spo1
    assert ("e:tom", RDF_TYPE, "c:Animal", None) in out    # + cax-sco


def test_transitive_closure_distributed_stratified(spark):
    """The round-5 canonical-doubling fallback (max_driver_edges=0):
    chains, cycles and self-loops close identically to the driver DFS
    in both semantics."""
    from kgforge.rdfs import closure_pairs, transitive_closure

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"),        # chain
        ("p", "q"), ("q", "p"),                    # 2-cycle
        ("s", "s"),                                # self-loop
        ("x", "y"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    for reflexive in (False, True):
        want = set(closure_pairs(edges, reflexive))
        got = {
            (r.src, r.dst)
            for r in transitive_closure(
                df, max_driver_edges=0, reflexive_on_cycle=reflexive
            ).collect()
        }
        assert got == want, (reflexive, sorted(got ^ want))


def test_transitive_closure_distributed_deep_chain(spark):
    """Depth beyond one doubling round (log2 depth rounds) on the
    distributed path."""
    from kgforge.rdfs import transitive_closure

    n = 40
    df = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(n)], "src string, dst string"
    )
    got = transitive_closure(df, max_driver_edges=0).count()
    assert got == (n + 1) * n // 2


def test_seeded_reachable_driver_and_distributed(spark):
    """Constant-endpoint path pushdown machinery: reachable-node set
    from a seed, the driver walk (`_reach`, what a path under its probe
    bound runs) vs the distributed frontier BFS vs the not-converged
    None fallback."""
    from kgforge.rdfs import _reach, seeded_reachable
    from kgforge.session import local_df

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # 3-cycle
        ("c", "d"),
        ("x", "y"),  # disconnected component
    ]
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    e = local_df(spark, edges, "src string, dst string")
    # driver walk: the cycle re-reaches the seed
    assert _reach(adj, ["a"]) == {"a", "b", "c", "d"}
    # distributed frontier BFS gives the same set
    got = {r.node for r in seeded_reachable(e, ["a"]).collect()}
    assert got == _reach(adj, ["a"])
    # seed with no outgoing edges: empty (not even the seed itself)
    assert seeded_reachable(e, ["d"]).count() == 0 and not _reach(adj, ["d"])
    # acyclic seed is NOT re-reached
    got3 = {r.node for r in seeded_reachable(e, ["x"]).collect()}
    assert got3 == _reach(adj, ["x"]) == {"y"}
    # round budget exhausted -> None (caller falls back to closure)
    assert seeded_reachable(e, ["a"], max_iter=2) is None
    # multi-seed union
    got4 = {r.node for r in seeded_reachable(e, ["x", "c"]).collect()}
    assert got4 == _reach(adj, ["x", "c"]) == {"y", "a", "b", "c", "d"}


def test_closure_probes_job_counts(spark, count_jobs):
    """The driver-sized closures fetch their edges with one bounded
    Arrow probe: `transitive_closure` fires 2 jobs on a small input
    (the dedup's shuffle stage and the probe; it fired 5 with
    checkpoint + count + collect) and `rdfs_closure` builds with 1
    (its incremental-take probe fired 2)."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("X", "Y"), ("Y", "X")],
        "src string, dst string",
    )
    jobs, closed = count_jobs(lambda: transitive_closure(edges))
    assert jobs <= 2
    assert {(r.src, r.dst) for r in closed.collect()} == {
        ("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"), ("C", "D"),
        ("X", "Y"), ("Y", "X"),
    }
    rows = [
        ("c:A", RDFS_SUBCLASSOF, "c:B", None),
        ("c:B", RDFS_SUBCLASSOF, "c:C", None),
        ("i:1", RDF_TYPE, "c:A", None),
    ]
    jobs, out = count_jobs(lambda: rdfs_closure(_triples_df(spark, rows)))
    assert jobs <= 1
    assert ("i:1", RDF_TYPE, "c:C", None) in tset(out)
