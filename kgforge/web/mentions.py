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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgforge.mapping.spec import RDFS_LABEL
from kgforge.triples.emit import _triple_struct, sanitize_expr
from kgforge.web.corpus import DOMAIN, RELATIONS


def _mention_iri_expr(surface: Column) -> Column:
    return F.concat(F.lit(DOMAIN + "m_"), sanitize_expr(surface, "v5"))


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
    lines = pages.select(
        F.col("url").alias("prov_url"),
        F.col("warc_ts"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
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
    # running any regex.
    branches = []
    for rel, phrase in RELATIONS.items():
        pat = relation_pattern(phrase)
        cond = F.col("line").contains(f" {phrase} ")
        branch = F.struct(
            F.lit(DOMAIN + rel).alias("pred"),
            F.regexp_extract(F.col("line"), pat, 1).alias("s_surf"),
            F.regexp_extract(F.col("line"), pat, 2).alias("o_surf"),
        )
        branches.append(F.when(cond, branch))  # NULL when phrase absent

    def triples_of(p):
        s_iri = _mention_iri_expr(p["s_surf"])
        o_iri = _mention_iri_expr(p["o_surf"])
        ok = (p["s_surf"] != "") & (p["o_surf"] != "")
        null_dt = F.lit(None).cast("string")
        structs = [F.when(ok, _triple_struct(s_iri, p["pred"], o_iri, null_dt))]
        if with_labels:
            label = F.lit(RDFS_LABEL)
            structs.append(F.when(ok, _triple_struct(s_iri, label, p["s_surf"], F.lit(""))))
            structs.append(F.when(ok, _triple_struct(o_iri, label, p["o_surf"], F.lit(""))))
        return F.array(*structs)

    parsed_arr = F.array_compact(F.array(*branches))
    arr = F.array_compact(F.flatten(F.transform(parsed_arr, triples_of)))
    out = lines.select(
        F.explode(arr).alias("t"), "prov_url", "warc_ts"
    ).select("t.subj", "t.pred", "t.obj", "t.obj_dt", "prov_url", "warc_ts")
    if dedup:
        out = out.groupBy("subj", "pred", "obj", "obj_dt").agg(
            F.min("prov_url").alias("prov_url"),
            F.min("warc_ts").alias("warc_ts"),
        )
    return out
