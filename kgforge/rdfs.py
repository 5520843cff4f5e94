"""Materialized RDFS inference over the triple table.

The reference documents downstream RDFS consumption as the intended
use of its emitted schema triples: Jena resolves subPropertyOf when
querying (csv2rdf-v4/jena/requests.sparql:9-19, version-resolution
MINUS at :22-31) against the rdfs:domain/rdfs:range/type-chain triples
the converter emits. This module materializes that inference so the
triple table is consumable WITHOUT an external reasoner:

  * transitive closure of rdfs:subClassOf / rdfs:subPropertyOf
  * type inheritance   (x rdf:type C) ∧ (C subClassOf+ D) → (x rdf:type D)
  * property inheritance (s p o) ∧ (p subPropertyOf+ q)   → (s q o)
  * rdfs2 (domain)     (p rdfs:domain C) ∧ (s p o)        → (s rdf:type C)
  * rdfs3 (range)      (p rdfs:range C) ∧ (s p o), o IRI  → (o rdf:type C)

Rule ordering is a sound single pass for this subset: prp-spo1 first
(so domain/range see inherited predicates), then rdfs2/rdfs3 over the
widened property triples, then cax-sco over base PLUS derived types —
domain/range entailments AND rdf:type rows minted by prp-spo1 (a
property declared subPropertyOf rdf:type), so derived types inherit up
the closed hierarchy. The only chains that would need a second pass
are deeper meta-schema cases (domain/range declared ON rdf:type or the
rdfs vocabulary itself), which the reference's Jena setup never
exercises.

Scale shape: the SCHEMA (hierarchy edges) is grammar-sized — thousands
of nodes at most, never corpus-sized — so the closure loop runs on a
tiny DataFrame (iterative doubling, O(log diameter) self-joins with
per-iteration localCheckpoint, same machinery as web.canon). The
DATA-side application is two broadcast joins of the closed hierarchy
against the instance triples: one shuffle-free pass at any corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from kgforge.mapping.spec import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASSOF,
    RDFS_SUBPROPERTYOF,
    SCHEMA_PREDS,
)
from kgforge.session import arrow_rows, bounded_arrow, local_df
from kgforge.triples.emit import TRIPLE_FIELDS


def closure_pairs(edges: list[tuple], reflexive_on_cycle: bool = False) -> list[tuple]:
    """Driver-side transitive closure of an edge list (DFS per source).
    Deterministic order.

    Default (strict): self-edges are ignored and cycle-closing pairs
    (s, s) are filtered — the RDFS-hierarchy semantics (a class is not
    its own STRICT super-class; rdfs_closure's oracle hashes depend on
    this).

    reflexive_on_cycle=True: SPARQL OneOrMorePath semantics — (s, s)
    IS a solution when s has a length>=1 path back to itself (a
    self-edge `a p a`, or a lies on a cycle a->...->a). Round-4
    advice: the strict variant silently lost those solutions when used
    for `<pred>+` property paths."""
    adj: dict = {}
    for s, d in edges:
        if s != d or reflexive_on_cycle:
            adj.setdefault(s, set()).add(d)
    out: list[tuple] = []
    for s in sorted(adj):
        seen = _reach(adj, [s])
        if not reflexive_on_cycle:
            seen.discard(s)
        out.extend((s, d) for d in sorted(seen))
    return out


def _reach(adj: dict, starts) -> set:
    """Nodes reachable from `starts` by >=1 step over the adjacency
    map (DFS). A start is in the result only when it is re-reached —
    by a self-edge or a cycle."""
    seen: set = set()
    stack = [d for s in starts for d in adj.get(s, ())]
    while stack:
        d = stack.pop()
        if d in seen:
            continue
        seen.add(d)
        stack.extend(adj.get(d, ()))
    return seen


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    max_driver_edges: int = 200_000,
    reflexive_on_cycle: bool = False,
) -> DataFrame:
    """(src, dst) edge list → all strictly-reachable pairs (src, dst).

    reflexive_on_cycle=True switches to SPARQL path semantics: (s, s)
    is kept when s reaches itself by a length>=1 path (self-edge or
    cycle); the default stays strict (RDFS hierarchies).

    Fast path: schema hierarchies are grammar-sized by construction
    (module docstring), so when the deduped edge count is within
    `max_driver_edges` the closure is computed on the driver from one
    `kgforge.session.bounded_arrow` probe (per-source DFS) instead of
    ~4 jobs per doubling round. Same bounded-with-distributed-fallback
    pattern as web.canon's union-find fast path.

    Fallback (edge count above the bound, or `max_driver_edges=0`):
    CANONICAL path doubling with min-length strata (round-5 rewrite).
    Naive doubling (hop = closure ⋈ closure) emits every pair once per
    SPLIT POINT of every path — measured on a depth-2048 chain: 67M
    shuffle rows for 2.1M distinct pairs, 3264 task-CPU-seconds
    (BENCH/path_closure_r5.json, pre-rewrite legs). Tracking the
    minimum path length per pair and joining only the stratum
    `len == 2^k` against `len <= 2^k` gives each pair a canonical
    prefix decomposition (the shortest-path prefix of length exactly
    2^k has that EXACT minlen — a shorter prefix would shorten the
    whole path), so join output collapses toward one row per new pair:
    total join output across all rounds ≈ |closure| on chains, still
    ⌈log2 d⌉ rounds. Convergence = empty stratum (no pair with minlen
    exactly 2^k ⇒ no longer paths exist, by the same split argument).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not reflexive_on_cycle:
        # strict semantics ignores self-edges entirely; path semantics
        # keeps them (they are length-1 (s, s) solutions). Dropping
        # (x, x) pairs never loses strict reachability: shortest paths
        # are simple, so no canonical split ever needs a self pair.
        e = e.filter(F.col("src") != F.col("dst"))
    e = e.distinct()
    probe = bounded_arrow(e, max_driver_edges)
    if probe is not None:
        out = closure_pairs(arrow_rows(probe, "src", "dst"), reflexive_on_cycle)
        return local_df(e.sparkSession, out, "src string, dst string")
    # canonical doubling over min-length strata (docstring): `acc`
    # carries (src, dst, len = minimum path length found so far);
    # after round k every pair with true minlen <= 2^k carries it
    acc = e.withColumn("len", F.lit(1).cast("long")).localCheckpoint()
    pow2 = 1
    for _ in range(max_iter):
        left = acc.filter(F.col("len") == pow2)
        if left.limit(1).count() == 0:
            # no minlen-2^k pairs -> no longer paths exist at ANY
            # later stratum (a pair with minlen in (2^k, 2^{k+1}]
            # needs a prefix of minlen exactly 2^k — split argument)
            break
        new = (
            left.alias("a")
            .join(
                acc.filter(F.col("len") <= pow2).alias("b"),
                F.col("a.dst") == F.col("b.src"),
            )
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.len") + F.col("b.len")).alias("len"),
            )
        )
        if not reflexive_on_cycle:
            new = new.filter(F.col("src") != F.col("dst"))
        # NOTE: eagerly localCheckpoint-ing `new` here (to probe
        # emptiness before paying the min-merge) trips a Spark 4
        # analyzer bug on the self-join plan ("key not found: src#N")
        # when the session reuses the checkpointed lineage — the
        # stratum probe above is the safe convergence test
        acc = (
            acc.unionByName(new)
            .groupBy("src", "dst")
            .agg(F.min("len").alias("len"))
            .localCheckpoint()
        )
        pow2 *= 2
    return acc.select("src", "dst")


def seeded_reachable(
    edges: DataFrame,
    seeds: list[str],
    max_iter: int = 128,
    max_driver_nodes: int = 2_000_000,
    isin_frontier: int = 1024,
) -> DataFrame | None:
    """Nodes reachable from `seeds` by >=1 step over (src, dst) edges
    — the seed-constrained counterpart of `transitive_closure` for
    constant-endpoint property paths (`:x p+ ?y`) whose step relation
    is too large to walk on the driver (the caller's bounded probe
    decided that; kgforge.sparql._seeded_path_df).

    Returns a 1-column DataFrame `node`. A seed appears in the output
    only when it is RE-reached (self-edge or cycle) — SPARQL
    OneOrMorePath semantics for a constant endpoint. Returns None when
    the reachable region outgrows `max_driver_nodes` or the BFS has
    not drained within `max_iter` rounds — the caller falls back to
    the full closure, so the pushdown never changes results, only
    plans.

    Scale shape: the frontier and reached sets live on the DRIVER
    (seeded queries are asked precisely because the region is a
    vanishing fraction of the graph), so each round is ONE narrow job:
    the frontier is pushed into the edge scan — as an `isin` predicate
    while small (it reaches the parquet scan as PushedFilters →
    row-group pruning; the predicate's edge set is never materialized,
    let alone shuffled), as a broadcast-join local relation beyond
    `isin_frontier` — and only the adjacent dst values come back.
    Dedup happens driver-side: no per-round distinct shuffle, no
    checkpoint chain, no convergence-probe job. The full-closure route
    this replaces materializes all-pairs reachability first and
    filters after (round-5 verdict #1).
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    frontier: list[str] = sorted(set(seeds))
    reached: set[str] = set()
    for _ in range(max_iter):
        if len(frontier) <= isin_frontier:
            adj_df = e.filter(F.col("src").isin(frontier)).select("dst")
        else:
            fdf = local_df(spark, [(n,) for n in frontier], "node string")
            adj_df = e.join(
                broadcast(fdf), F.col("src") == F.col("node")
            ).select("dst")
        new = {r.dst for r in adj_df.collect()} - reached
        if not new:
            return local_df(
                spark, [(n,) for n in sorted(reached)], "node string"
            )
        reached |= new
        if len(reached) > max_driver_nodes:
            return None  # region too big for the driver — full closure
        frontier = sorted(new)
    return None  # did not drain — caller falls back to full closure


def rdfs_closure(
    triples: DataFrame,
    include_input: bool = True,
    max_driver_edges: int = 200_000,
) -> DataFrame:
    """Triple table → table with RDFS-inferred triples materialized.

    Inference rules (the RDFS subset the reference's Jena RDFS
    reasoner applies to the emitted schema triples,
    csv2rdf-v4/jena/test-conf.ttl:36-47): transitive subClassOf/
    subPropertyOf, type inheritance (cax-sco), property inheritance
    (prp-spo1), and domain/range entailment (rdfs2/rdfs3) — the
    grammar compiler emits rdfs:domain/rdfs:range schema triples
    (csv2rdf-v3/csv2rdf-v3.py:386-398, csv2rdf-v5/csv2rdf-v5.py:
    321-340) that license exactly these. Output carries the core
    (subj, pred, obj, obj_dt) columns, deduped.

    Execution shape: one `kgforge.session.bounded_arrow` probe fetches
    all four schema edge sets (they are grammar-sized by construction;
    `max_driver_edges` guards the bound and falls back to
    fully-distributed filters + iterative doubling beyond it);
    hierarchies close on the driver and come back as local relations,
    so every inference join is a broadcast of a local relation — no
    corpus scan is ever re-executed just to build a broadcast side,
    and rdfs2+rdfs3 share one fused join pass.
    """
    base = triples.select(*TRIPLE_FIELDS)
    spark = base.sparkSession
    null_dt = F.lit(None).cast("string")
    edge_schema = "src string, dst string"

    schema_edges = base.filter(F.col("pred").isin(*SCHEMA_PREDS)).select(
        "subj", "pred", "obj"
    )
    probe = bounded_arrow(schema_edges, max_driver_edges)
    if probe is not None:
        rows = arrow_rows(probe, "subj", "pred", "obj")

        def _local(pred: str, close: bool) -> DataFrame:
            pairs = [(s, o) for s, p, o in rows if p == pred]
            if close:
                pairs = closure_pairs(pairs)
            else:
                pairs = sorted(set(pairs))
            return local_df(spark, pairs, edge_schema)

        sco = _local(RDFS_SUBCLASSOF, close=True)
        spo = _local(RDFS_SUBPROPERTYOF, close=True)
        dom = _local(RDFS_DOMAIN, close=False)
        rng = _local(RDFS_RANGE, close=False)
    else:  # schema bigger than the bound: stay fully distributed
        def _dist(pred: str) -> DataFrame:
            return base.filter(F.col("pred") == pred).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )

        sco = transitive_closure(_dist(RDFS_SUBCLASSOF))
        spo = transitive_closure(_dist(RDFS_SUBPROPERTYOF))
        dom = _dist(RDFS_DOMAIN).distinct()
        rng = _dist(RDFS_RANGE).distinct()

    # closed hierarchy edges as schema triples
    sco_triples = sco.select(
        F.col("src").alias("subj"),
        F.lit(RDFS_SUBCLASSOF).alias("pred"),
        F.col("dst").alias("obj"),
        null_dt.alias("obj_dt"),
    )
    spo_triples = spo.select(
        F.col("src").alias("subj"),
        F.lit(RDFS_SUBPROPERTYOF).alias("pred"),
        F.col("dst").alias("obj"),
        null_dt.alias("obj_dt"),
    )

    # prp-spo1: property inheritance — obj/obj_dt ride along unchanged
    inherited_props = (
        base.join(broadcast(spo), F.col("pred") == F.col("src"))
        .select("subj", F.col("dst").alias("pred"), "obj", "obj_dt")
    )

    # rdfs2/rdfs3 fused: domain/range entailment over base PLUS
    # inherited predicates (p spo q ∧ q domain C must fire on
    # instances of p), in ONE broadcast join — the side tag picks the
    # subject (domain) or the IRI object (range) as the typed node
    props_all = base.unionByName(inherited_props)
    dr = broadcast(
        dom.withColumn("side", F.lit("d")).unionByName(
            rng.withColumn("side", F.lit("r"))
        )
    )
    dr_types = (
        props_all.join(dr, F.col("pred") == F.col("src"))
        # rdfs3 types the OBJECT node — only IRI objects (obj_dt
        # null); literals (obj_dt '' or a datatype IRI) never typed
        .filter((F.col("side") == "d") | F.col("obj_dt").isNull())
        .select(
            F.when(F.col("side") == "d", F.col("subj"))
            .otherwise(F.col("obj"))
            .alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.col("dst").alias("obj"),
            null_dt.alias("obj_dt"),
        )
    )

    # cax-sco over base AND derived types: domain/range entailments
    # plus rdf:type rows produced by prp-spo1 (a property declared
    # rdfs:subPropertyOf rdf:type — (s p C) with p ⊑ rdf:type and
    # C subClassOf+ D must yield (s rdf:type D)); only IRI-valued
    # objects can name classes (same guard as rdfs3)
    all_types = (
        base.filter(F.col("pred") == RDF_TYPE)
        .select(*TRIPLE_FIELDS)
        .unionByName(dr_types)
        .unionByName(
            inherited_props.filter(
                (F.col("pred") == RDF_TYPE) & F.col("obj_dt").isNull()
            ).select(*TRIPLE_FIELDS)
        )
    )
    inherited_types = all_types.join(
        broadcast(sco), F.col("obj") == F.col("src")
    ).select(
        "subj",
        F.lit(RDF_TYPE).alias("pred"),
        F.col("dst").alias("obj"),
        null_dt.alias("obj_dt"),
    )

    inferred = (
        sco_triples.unionByName(spo_triples)
        .unionByName(inherited_types)
        .unionByName(inherited_props)
        .unionByName(dr_types)
    )
    out = base.unionByName(inferred) if include_input else inferred
    return out.dropDuplicates(TRIPLE_FIELDS)
