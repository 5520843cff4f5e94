"""Mention detection + triple extraction over extracted text.

This is the web generalization of the reference's "cell value → rule →
triples" dataflow (SURVEY.md §0): a *detected mention* plays the role
of a cell value, a *relation template* plays the role of a grammar
rule, and the emitted triple set carries provenance (url, warc_ts).

Implementation is fully JVM-columnar: split text into lines, explode,
run one anchored regexp per relation template, build the triple
structs, explode, dedup. No Python UDFs — at 10^12 documents the
regexp runs inside whole-stage codegen next to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.mapping.spec import RDFS_LABEL, SANITIZE_CHARSETS
from kgforge.session import sql_str
from kgforge.web.corpus import DOMAIN, RELATIONS


def _mention_iri_sql(surface: str) -> str:
    """SQL text of the mention IRI of SQL expression `surface`: the v5
    sanitizer (kgforge.triples.emit.sanitize_expr) under the web domain."""
    charset = SANITIZE_CHARSETS["v5"]
    return (
        f"concat({sql_str(DOMAIN + 'm_')}, "
        f"translate({surface}, {sql_str(charset)}, {sql_str('_' * len(charset))}))"
    )


def relation_pattern(phrase: str) -> str:
    """Anchored sentence template: '<subj> <phrase> <obj>.'"""
    import re as _re

    return rf"^(.+?) {_re.escape(phrase)} (.+?)\.$"


def extract_mention_triples(
    pages: DataFrame,
    text_col: str = "text",
    with_labels: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """web_pages → (subj, pred, obj, obj_dt, prov_url, warc_ts).

    Label triples (rdfs:label raw-surface provenance, reference v5 G14)
    ride along so canonicalization can elect readable representatives.
    """
    lines = pages.selectExpr(
        "url AS prov_url", "warc_ts", f"explode(split(`{text_col}`, {sql_str(chr(10))})) AS line"
    )

    # ONE scan, ONE regex parse per (line, matching relation). The
    # parse results must be let-bound: naive formulations either
    # re-scan the table per relation (union-of-branches — measured flat
    # scaling at 4M pages from the R× scan+explode) or re-evaluate the
    # regex per emitted triple (WHEN-guarded structs — conditional
    # subexpressions are excluded from Spark's CSE; measured 2×
    # slower). Binding each parsed struct as a `transform` lambda
    # variable forces exactly one evaluation per match, and the triple
    # structs reference the variable, not the expression.
    #
    # One entry PER matching relation (not a last-wins WHEN chain): a
    # line containing two relation phrases yields both mentions. The
    # cheap `contains` pre-check still keeps non-matching lines from
    # running any regex. The whole expression is SQL text, parsed on
    # the JVM in one call.
    branches = []
    for rel, phrase in RELATIONS.items():
        pat = sql_str(relation_pattern(phrase))
        branches.append(  # NULL when phrase absent
            f"CASE WHEN contains(line, {sql_str(f' {phrase} ')}) THEN struct("
            f"{sql_str(DOMAIN + rel)} AS pred, regexp_extract(line, {pat}, 1) AS s_surf, "
            f"regexp_extract(line, {pat}, 2) AS o_surf) END"
        )

    s_iri, o_iri = _mention_iri_sql("p.s_surf"), _mention_iri_sql("p.o_surf")
    structs = [(s_iri, "p.pred", o_iri, "CAST(NULL AS STRING)")]
    if with_labels:
        label = sql_str(RDFS_LABEL)
        structs += [(s_iri, label, "p.s_surf", "''"), (o_iri, label, "p.o_surf", "''")]
    triples_of = ", ".join(
        f"CASE WHEN p.s_surf != '' AND p.o_surf != '' THEN struct("
        f"{s} AS subj, {pr} AS pred, {o} AS obj, {dt} AS obj_dt) END"
        for s, pr, o, dt in structs
    )
    arr = (
        f"array_compact(flatten(transform(array_compact(array({', '.join(branches)})), "
        f"p -> array({triples_of}))))"
    )
    out = lines.selectExpr(f"inline({arr})", "prov_url", "warc_ts")
    if dedup:
        out = out.groupBy("subj", "pred", "obj", "obj_dt").agg(
            F.expr("min(prov_url) AS prov_url"), F.expr("min(warc_ts) AS warc_ts")
        )
    return out
