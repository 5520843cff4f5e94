"""End-to-end web KG pipeline (the north rule's four stages).

    web_pages ──extract──▶ text ──mentions──▶ mention triples
        │                                        │
        └── (html pruned immediately)            ├─ distinct surfaces ──link──▶ sameAs
                                                 │                                │
                                                 └──────── rewrite ◀── CC min-IRI ┘
                                                              │
                                                   bucketed triple table

Stage boundaries are materialization points (lineage + resume, see
kgforge.lineage). Shuffle inventory at scale:
  1. mention-triple dedup (groupBy full triple, partial-agg first)
  2. linking on distinct surfaces (small input by construction): the
     case-fold window, the surface spread, the signature groupBy, the
     bucket window and collect, the pair spread and distinct
  3. CC iterations (edge list is cluster-sized, tiny vs corpus)
  4. canonical-map joins + final dedup
Everything else is narrow. html never crosses a shuffle.

A driver-sized surface table runs 2 and 3 with no shuffle at all. A
persisted run probes its surfaces once (`bounded_arrow`); at most
`LOCAL_SURFACES_MAX` rows are linked and canonicalized from a
one-partition local copy. Every aggregate, window, distinct and
shuffled join over a `SinglePartition` child plans with no exchange,
and the two spreads skip such an input (`kgforge.textops.dedup._spread`),
so canonical_map's probe runs the region in 1 job instead of 15 on a
warm 10,000-page op (853 surfaces) under SCALE, and in 2 under SAFE,
whose plan also holds the oversized-bucket self-join. Above the bound,
and in an unpersisted run, the plan is the distributed one.

No stage runs Python per row: extraction is a Catalyst regex chain
(kgforge.web.extract) that fuses into the mention stage's generated
code, so a run starts no Python worker. The hot expressions are
composed as SQL text and parsed on the JVM in one call each, which
keeps plan construction to about a thousand py4j round trips per run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgforge.mapping.spec import RDFS_LABEL
from kgforge.profile import SAFE, ScaleProfile
from kgforge.session import arrow_rows, bounded_arrow, local_df, sql_str
from kgforge.web.canon import canonical_map, rewrite_triples
from kgforge.web.extract import extract_text
from kgforge.web.linking import link_surfaces
from kgforge.web.mentions import _mention_iri_sql, extract_mention_triples

#: a persisted surface table of at most this many rows is linked and
#: canonicalized from a one-partition local copy (see run_pipeline).
#: Below the measured crossover: the one-task region and the
#: distributed one took equal time at ~5,000 surfaces on local[4] and
#: ~10,000 on local[2] (1,000: 0.40 s against 0.67 s; 50,000: 8.5 s
#: against 3.5 s, local[4])
LOCAL_SURFACES_MAX = 4_000


def surfaces_of(mention_triples: DataFrame) -> DataFrame:
    """Distinct (iri, surface) pairs from the label triples."""
    return (
        mention_triples.filter(f"pred = {sql_str(RDFS_LABEL)}")
        .selectExpr("subj AS iri", "obj AS surface")
        .distinct()
    )


def run_pipeline(
    pages: DataFrame,
    text_from_html: bool = True,
    link_threshold: float = 0.78,
    persist_intermediate: bool = False,
    profile: ScaleProfile = SAFE,
) -> dict[str, DataFrame]:
    """Returns every stage output keyed by name (callers materialize
    via kgforge.lineage.run_stage for resumability).

    persist_intermediate=True caches mention_triples and surfaces,
    which the downstream stages consume 2-4× each — right when the
    caller materializes everything in one session (benchmarks, the
    contract query); leave False when stages are checkpointed to
    storage anyway (the scaling/lineage path persists externally).

    `profile` (kgforge.profile.ScaleProfile) arms the linking-stage
    guards.

    A persisted run links a surface table of at most
    `LOCAL_SURFACES_MAX` rows in one Spark partition (see the module
    docstring); the rows are the same on either route. The returned
    "surfaces" is always the persisted table, so
    unpersist_intermediates releases it."""
    if text_from_html:
        pages_txt = extract_text(pages, "html", "text_extracted").selectExpr(
            "url", "warc_ts", "text_extracted AS text", "lang"
        )
    else:
        pages_txt = pages.select("url", "warc_ts", "text", "lang")

    mention_triples = extract_mention_triples(pages_txt, text_col="text")
    if persist_intermediate:
        mention_triples = mention_triples.persist()

    surfaces = surfaces_of(mention_triples)
    linked = surfaces
    if persist_intermediate:
        surfaces = linked = surfaces.persist()
        # the probe fills the cache the distributed route reads, so
        # above the bound it costs no extra pass over the mentions
        probe = bounded_arrow(surfaces, LOCAL_SURFACES_MAX)
        if probe is not None:
            rows = arrow_rows(probe, *surfaces.columns)
            linked = local_df(surfaces.sparkSession, rows, surfaces.schema).coalesce(1)
    same_as = link_surfaces(linked.select("surface"), threshold=link_threshold, profile=profile)
    # sameAs edges between surface IRIs, minted as extract_mention_triples
    # minted them: every surface's IRI is a function of the surface
    edges = same_as.selectExpr(
        f"{_mention_iri_sql('a')} AS a", f"{_mention_iri_sql('b')} AS b", "score"
    )

    all_nodes = linked.selectExpr("iri AS node")
    cmap = canonical_map(edges, all_nodes)
    canonical = rewrite_triples(mention_triples, cmap)

    return {
        "pages_text": pages_txt,
        "mention_triples": mention_triples,
        "surfaces": surfaces,
        "same_as": edges,
        "canonical_map": cmap,
        "canonical_triples": canonical,
    }


def unpersist_intermediates(result: dict[str, DataFrame]) -> None:
    """Release the caches a persist_intermediate=True run holds.

    Call after the consuming stages are materialized — a long-lived
    session that runs the pipeline repeatedly otherwise accumulates
    cached mention/surface blocks (the same leak class the linking
    feature cache had in round 1)."""
    for key in ("mention_triples", "surfaces"):
        df = result.get(key)
        if df is not None and df.is_cached:
            df.unpersist()
