"""Multi-source orchestration (S2/S9/P4/A4) + CLI + Turtle sink.

Mirrors the reference's own orchestration test (csv2rdf/tests_csv.py:
72-85: two sources accumulated in ONE shared store) and the v5
active-source registry (csv2rdf-v5.py:109-137)."""

from __future__ import annotations

import csv
import os

import pytest

from kgforge.orchestrate import (
    load_options,
    parse_options,
    run_config,
    run_sources,
    sniff_profile,
)

from tests import gen_fixtures as G
from tests import oracle
from tests.test_parity import assert_parity, triple_set


def _write_csv(path: str, rows: list[list[str]], delimiter: str = ";") -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f, delimiter=delimiter).writerows(rows)


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


@pytest.fixture()
def v1_conf(tmp_path):
    """Two v1-dialect sources: default-mode + semantic-mode (the
    reference's tests/csv2rdf.ini shape)."""
    rows1 = G.v1_rows(n=25, seed=3)
    rows2 = G.v1_rows(n=30, seed=9)
    _write_csv(str(tmp_path / "test1.csv"), rows1)
    _write_csv(str(tmp_path / "test2.csv"), rows2)
    _write_csv(
        str(tmp_path / "semantics.csv"), [[c, r] for c, r in G.V1_GRAMMAR]
    )
    conf = tmp_path / "csv2rdf.ini"
    _write(
        str(conf),
        f"""[test1.csv]
domain = {G.V1_DOMAIN}
type = {G.V1_TYPE}
predicate_prefix = {G.V1_PREFIX}
delimiter = ;

[test2.csv]
domain = {G.V1_DOMAIN}
type = {G.V1_TYPE}
predicate_prefix = {G.V1_PREFIX}
delimiter = ;
semantics = semantics.csv
""",
    )
    expected = oracle.v1_default(rows1, G.V1_DOMAIN, G.V1_TYPE, G.V1_PREFIX) | (
        oracle.v1_semantic(G.V1_GRAMMAR, rows2, G.V1_DOMAIN)
    )
    return str(conf), expected


def test_v1_shared_store_parity(spark, v1_conf):
    """S9+A4: two sources, one store, global dedup — exact parity with
    the union of the per-source oracles."""
    conf, expected = v1_conf
    out = run_config(spark, conf, mode="shared")
    assert set(out) == {"__shared__"}
    assert_parity(triple_set(out["__shared__"]), expected)


def test_v5_registry_active_filter_and_per_source(spark, tmp_path):
    """S2+P4: v5-dialect registry keeps only active=="True" sources;
    per-source mode reproduces each source's oracle set independently
    and aggregates ontology requirements (S7)."""
    rows_a = G.mipl_rows(n=30, seed=5)
    rows_b = G.mipl_rows(n=20, seed=11)
    _write_csv(str(tmp_path / "a.csv"), rows_a)
    _write_csv(str(tmp_path / "b.csv"), rows_b)
    _write_csv(str(tmp_path / "c.csv"), rows_b)
    _write(str(tmp_path / "grammar5.ini"), G.GRAMMAR_V5)
    conf = tmp_path / "conf.ini"
    _write(
        str(conf),
        f"""[A]
file = a.csv
domain = {G.MIPL_DOMAIN}
delimiter = ;
semantics = grammar5.ini
active = True

[B]
file = b.csv
domain = {G.MIPL_DOMAIN}
delimiter = ;
semantics = grammar5.ini
active = True

[C]
file = c.csv
domain = {G.MIPL_DOMAIN}
delimiter = ;
semantics = grammar5.ini
active = False
""",
    )
    sources = load_options(str(conf))
    assert [s.name for s in sources] == ["A", "B"]  # C filtered (P4)

    out = run_sources(spark, sources, mode="per_source")
    assert set(out) == {"A", "B", "__ontology__"}
    assert_parity(
        triple_set(out["A"]), oracle.v5(G.GRAMMAR_V5, rows_a, G.MIPL_DOMAIN)
    )
    assert_parity(
        triple_set(out["B"]), oracle.v5(G.GRAMMAR_V5, rows_b, G.MIPL_DOMAIN)
    )
    reqs = [r.requirement for r in out["__ontology__"].collect()]
    # content parity; the reference's ordering is row-visit-driven and
    # ours is rule-driven (same convention as test_v5_ontology_requirements)
    assert sorted(reqs) == sorted(
        oracle.v5_ontology_requirements(G.GRAMMAR_V5, rows_a, G.MIPL_DOMAIN)
    )


def test_active_exact_string_quirk():
    """Reference compares active == "True" exactly — lowercase "true"
    deactivates (csv2rdf-v5.py:125)."""
    text = """[S]
file = x.csv
domain = d#
delimiter = ;
semantics = g.ini
active = true
"""
    assert parse_options(text) == []


def test_sniff_profile():
    assert sniff_profile(G.GRAMMAR_V5) == "v5"
    assert sniff_profile(G.GRAMMAR_V2) == "v4"  # newest of the v2-v4 family


def test_strict_map_miss_fails_in_plan(spark):
    """v2/v3 strict policy: a fired rule with a lookup miss fails the
    JOB (reference halt, csv2rdf-v2.py:330-332) instead of silently
    emitting NULL terms."""
    from kgforge.io.read import dataframe_from_rows
    from kgforge.mapping.compile_ini import compile_v234
    from kgforge.triples.emit import emit_triples

    rows = G.mipl_rows(n=10, include_map_misses=True)
    # make sure at least one row actually carries the unmapped key
    rows.append([f"S000N7777", "", "", "ZZZ", "AN1", "2T34", "", "", "", "x"])
    df = dataframe_from_rows(spark, rows)
    spec = compile_v234("v2", G.MIPL_DOMAIN, G.GRAMMAR_V2, rows[0])
    with pytest.raises(Exception, match="map lookup miss"):
        emit_triples(df, spec).collect()


def _parse_turtle_min(path: str) -> set[tuple]:
    """Minimal parser for OUR canonical Turtle subset (full IRIs, one
    `<pred> obj ;/.` per line, subject on the first line of a block).
    Exists so the round-trip is tested even without rdflib; the rdflib
    check below validates against a real parser when available."""
    out: set[tuple] = set()
    subj = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            rest = line
            if not line.startswith("    "):
                end = line.index("> ")
                subj = line[1:end]
                rest = line[end + 2:]
            else:
                rest = line[4:]
            end = rest.index("> ")
            pred = rest[1:end]
            objterm = rest[end + 2: -2]  # strip ' ;' / ' .'
            if objterm.startswith("<"):
                obj, dt = objterm[1:-1], None
            elif objterm.endswith('"'):
                obj, dt = objterm[1:-1], ""
            else:
                lit, dtpart = objterm.rsplit("^^<", 1)
                obj, dt = lit[1:-1], dtpart[:-1]
            for a, b in (("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"),
                         ('\\"', '"'), ("\\\\", "\\")):
                obj = obj.replace(a, b)
            out.add((subj, pred, obj, dt))
    return out


def test_cli_end_to_end_turtle(spark, v1_conf, tmp_path):
    """CLI drives S2→S9→Turtle dump; the dumped Turtle parses back to
    the identical triple set (S5 round-trip)."""
    from kgforge.__main__ import main

    conf, expected = v1_conf
    outdir = str(tmp_path / "out")
    rc = main(["-c", conf, "--mode", "shared", "--out", outdir])
    assert rc == 0
    ttl = os.path.join(outdir, "shared.ttl")
    assert os.path.isfile(ttl)

    assert_parity(_parse_turtle_min(ttl), expected)


def test_cli_parquet_then_query(spark, v1_conf, tmp_path, capsys):
    """`--format parquet` writes the bucketed triple table, with its
    bucket count sized from the input (two small CSVs are far below
    one maxPartitionBytes split: one bucket, not the write's default
    64), and `--sparql --triples` over it returns every converted
    triple."""
    from kgforge.__main__ import _tsv_escape, main

    conf, expected = v1_conf
    outdir = str(tmp_path / "out_parquet")
    args = ["-c", conf, "--mode", "shared", "--format", "parquet", "--out", outdir]
    assert main(args) == 0
    q = tmp_path / "all.rq"
    q.write_text("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    capsys.readouterr()
    tpath = os.path.join(outdir, "shared.triples")
    assert [d for d in os.listdir(tpath) if d.startswith("subj_bucket=")] == ["subj_bucket=0"]
    assert main(["--sparql", str(q), "--triples", tpath]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "s\tp\to"
    assert {tuple(ln.split("\t")) for ln in lines[1:]} == {
        tuple(_tsv_escape(v) for v in t[:3]) for t in expected
    }


def test_turtle_rdflib_roundtrip(spark, v1_conf, tmp_path):
    """Same dump validated by a real Turtle parser (when available)."""
    rdflib = pytest.importorskip("rdflib")
    from kgforge.__main__ import main

    conf, expected = v1_conf
    outdir = str(tmp_path / "out_rdflib")
    main(["-c", conf, "--mode", "shared", "--out", outdir])
    ttl = os.path.join(outdir, "shared.ttl")

    g = rdflib.Graph()
    g.parse(ttl, format="turtle")
    got = set()
    for s, p, o in g:
        if isinstance(o, rdflib.Literal):
            dt = str(o.datatype) if o.datatype is not None else ""
            got.add((str(s), str(p), str(o), dt))
        else:
            got.add((str(s), str(p), str(o), None))
    assert_parity(got, expected)


def test_cli_per_source_v5_outputs(spark, tmp_path):
    """Per-source mode writes one file per source + the global
    ontology-requirements file (reference main loop + dump_define)."""
    from kgforge.__main__ import main

    rows = G.mipl_rows(n=15, seed=2)
    _write_csv(str(tmp_path / "a.csv"), rows)
    _write(str(tmp_path / "grammar5.ini"), G.GRAMMAR_V5)
    conf = tmp_path / "conf.ini"
    _write(
        str(conf),
        f"""[A]
file = a.csv
domain = {G.MIPL_DOMAIN}
delimiter = ;
semantics = grammar5.ini
active = True
""",
    )
    outdir = str(tmp_path / "out")
    rc = main(["-c", str(conf), "--format", "ntriples", "--out", outdir])
    assert rc == 0
    assert os.path.isfile(os.path.join(outdir, "A.nt"))
    with open(os.path.join(outdir, "to-define-in-ontology.txt")) as f:
        reqs = [ln for ln in f.read().splitlines() if ln]
    assert sorted(reqs) == sorted(
        oracle.v5_ontology_requirements(G.GRAMMAR_V5, rows, G.MIPL_DOMAIN)
    )


# ----------------------------------------------------------- error paths
def test_load_options_missing_file():
    with pytest.raises(FileNotFoundError):
        load_options("/nonexistent/conf.ini")


def test_default_mode_requires_type_and_prefix():
    from kgforge.orchestrate import SourceConfig, compile_source

    src = SourceConfig(name="s", file="x.csv", domain="d#", delimiter=";")
    with pytest.raises(ValueError, match="type"):
        compile_source(src, ["a", "b"])


def test_unknown_mode_and_profile(tmp_path, spark):
    from kgforge.orchestrate import SourceConfig, run_sources

    with pytest.raises(ValueError, match="unknown mode"):
        run_sources(spark, [], mode="bogus")
    sem = tmp_path / "g.ini"
    sem.write_text("[X]\ncellrole = pkey\ncelltype = t\n")
    src = SourceConfig(
        name="s", file="x.csv", domain="d#", delimiter=";",
        semantics=str(sem), profile="v9",
    )
    from kgforge.orchestrate import compile_source

    with pytest.raises(ValueError, match="unknown profile"):
        compile_source(src, ["X"])


def test_sniff_profile_rejects_non_grammar():
    with pytest.raises(ValueError, match="no cell/cellrole"):
        sniff_profile("[only]\nlists = here\n")
