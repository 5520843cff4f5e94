"""Canonicalization: connected components + deterministic min election.

Hand-rolled alternating large-star/small-star connected components
(Kiveris et al., "Connected Components in MapReduce and Beyond") over a
DataFrame edge list — GraphFrames is not available in this sandbox and
isn't needed: both phases are agg+join (no collect_list, so a
head-entity hub with millions of neighbors never materializes a single
giant row). Converges in O(log n) rounds on any graph; our similarity
clusters have tiny diameter so 2-4 rounds is typical.

Per-iteration localCheckpoint cuts lineage (Catalyst cannot express
the loop — SURVEY.md §4.2). Determinism: the elected canonical node is
the lexicographic MIN node id of each component, independent of
partitioning or iteration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kgforge.session import arrow_rows, bounded_arrow, local_df


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    bidir = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = bidir.groupBy("src").agg(F.min("dst").alias("mn"))
    m = m.select(
        "src", F.least(F.col("mn"), F.col("src")).alias("m")
    )
    return (
        bidir.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges large→small, then connect all small neighbors
    (and u itself) to the minimum."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = directed.join(m, "src").select(
        F.col("dst").alias("node"), F.col("m"), F.col("src")
    )
    out = nbrs.select(F.col("node").alias("src"), F.col("m").alias("dst")).union(
        nbrs.select(F.col("src").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _cc_driver(edges: list[tuple], spark, node_type=None) -> DataFrame:
    """Exact union-find on the driver for SMALL edge lists (`edges` is
    the already-fetched (src, dst) list).

    The star loop costs ~2 Spark jobs per iteration; on a cluster-map
    sized edge list (tens of MB) that is pure fixed overhead — measured
    ~18s of serial time per pipeline run at 10M pages. Union-find on
    the collected list is milliseconds and exact. Only reachable under
    an explicit row-count threshold (see connected_components), so
    this is a bounded-by-construction collect, not a hot-path one.

    Arrow on both hops (the bounded_arrow probe / `local_df`): the
    Row-object collect + pickle-per-tuple parallelize were themselves a
    multi-second serial cost at ~0.5M edges."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a0, b0 in edges:
        a, b = find(a0), find(b0)
        if a != b:
            # union by min so the root IS the component min
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    rows = sorted(
        {(n, find(n)) for n in parent}
        | {(r, r) for r in {find(n) for n in parent}}
    )
    # schema pinned to the INPUT edge column type — inferring it made
    # the empty case come back as string while non-empty numeric ids
    # came back as long (schema flipped by input size)
    dt = node_type if node_type is not None else StringType()
    schema = StructType(
        [StructField("node", dt, False), StructField("component", dt, False)]
    )
    return local_df(spark, rows, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Edge list → (node, component) where component = min node id of
    the node's component. Nodes appearing only as isolated vertices are
    the caller's concern (map them to themselves).

    Adaptive strategy: edge lists at or under `driver_max_edges` rows
    (~100 MB of IRI pairs — sameAs graphs over DISTINCT surfaces are
    orders of magnitude smaller than the corpus) run exact union-find
    on the driver over one `kgforge.session.bounded_arrow` probe that
    both detects the size class and fetches the edges. Larger inputs run
    the iterative alternating-star algorithm, whose O(log n) rounds
    each cost a constant number of distributed jobs."""
    e = edges.selectExpr(f"`{src}` AS src", f"`{dst}` AS dst").filter("src != dst").distinct()
    if driver_max_edges is not None:
        probe = bounded_arrow(e, driver_max_edges)
        if probe is not None:
            return _cc_driver(
                arrow_rows(probe, "src", "dst"), e.sparkSession, e.schema["src"].dataType
            )
    e = e.localCheckpoint()

    def _sig(df: DataFrame) -> tuple:
        # order-independent edge-set signature: (count, xor of row
        # hashes) — one scalar agg instead of two exceptAll joins per
        # iteration (the convergence check was costing more than the
        # star steps themselves)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("x"),
        ).collect()[0]
        return (row.n, row.x)

    sig = _sig(e)
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        sig2 = _sig(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    # after convergence every node points at its component min
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return comp.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def canonical_map(edges: DataFrame, all_nodes: DataFrame | None = None) -> DataFrame:
    """sameAs edges → (node, canon) with min-IRI election; nodes absent
    from any edge map to themselves when `all_nodes(node)` is given."""
    cmap = connected_components(edges, "a", "b").selectExpr("node", "component AS canon")
    if all_nodes is not None:
        missing = all_nodes.select("node").distinct().join(cmap, "node", "left_anti")
        cmap = cmap.union(missing.selectExpr("node", "node AS canon"))
    return cmap


def rewrite_triples(
    triples: DataFrame, cmap: DataFrame, collapse_prov: bool = True
) -> DataFrame:
    """Rewrite subj and IRI-objects through the canonical map (two
    broadcast-or-shuffle joins; AQE skew-join splitting handles a
    head-entity hub on the probe side), then re-dedup.

    collapse_prov=True (default): one row per distinct (subj, pred,
    obj, obj_dt), provenance collapsed with min() — the compact KG.
    collapse_prov=False: one row per (triple, provenance) — the
    north-rule (subj, pred, obj, prov_url, warc_ts) lineage table,
    deduped on the FULL row. This is the shape where a mega-hub
    subject really concentrates rows (a hub mentioned on 30% of pages
    keeps one row per mentioning page), so the bucketed writer's
    rebalance, which splits a hot bucket by its bytes
    (kgforge.io.catalog._bucketed_repartition), exists for exactly
    this output."""
    sm = cmap.selectExpr("node AS subj", "canon AS subj_canon")
    om = cmap.selectExpr("node AS obj", "canon AS obj_canon")
    prov = [c for c in triples.columns if c not in ("subj", "pred", "obj", "obj_dt")]
    out = (
        triples.join(sm, "subj", "left")
        .join(om, "obj", "left")
        .selectExpr(
            "coalesce(subj_canon, subj) AS subj",
            "pred",
            # literals (obj_dt non-null) are never rewritten even if
            # their lexical form collides with a node IRI
            "CASE WHEN obj_dt IS NULL THEN coalesce(obj_canon, obj) ELSE obj END AS obj",
            "obj_dt",
            *[f"`{c}`" for c in prov],
        )
    )
    if not collapse_prov:
        # full-row dedup: the grouping key includes provenance, so a
        # hub subject's rows spread across the shuffle by (obj, prov)
        # and the map-side partial aggregate stays effective
        return out.dropDuplicates()
    if prov:
        return out.groupBy("subj", "pred", "obj", "obj_dt").agg(
            *[F.expr(f"min(`{c}`) AS `{c}`") for c in prov]
        )
    return out.dropDuplicates(["subj", "pred", "obj", "obj_dt"])
