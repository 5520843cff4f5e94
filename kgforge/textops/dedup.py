"""Document deduplication operators (exact + near-dup families).

All operators are expressed over a `(id, text)` DataFrame and return
DataFrames; everything except SimHash is pure JVM column expressions,
and the hash primitive is md5 (identical across Spark/DuckDB, which
keeps every operator oracle-checkable — a deliberate choice over
xxhash64, which DuckDB lacks).

Scale notes:
* exact dedup: one shuffle on the content hash; the map-side partial
  aggregate collapses most duplicates before the exchange.
* minhash-lsh: signatures are per-document aggregates over shingles
  (narrow), candidate pairs come from (band, key) buckets — only
  documents sharing a band bucket ever meet, which is the whole point
  at 10^12 docs.
* the near-dup family shares three helpers: `_collapse_exact` (pairs
  are decided between exact-duplicate group representatives),
  `_bucket_pairs` (banded-bucket pairs under the hot-bucket guard)
  and `_expand_pairs` (group results back to member pairs).
* ngram-jaccard: exact verification join for candidate pairs; the
  shingle-share join prunes by rarity first (a shingle shared by >maxdf
  docs is dropped as a join key — stopword-shingle explosion guard).
* simhash: 60-bit signature via explode + packed-lane bit-count
  aggregates, pure JVM (no Python in the path); near-dup = hamming
  distance ≤ k among docs sharing one of four 15-bit chunks.
"""

from __future__ import annotations

from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgforge.profile import SAFE, ScaleProfile


def _shingles_of_tokens(toks: Column, k: int) -> Column:
    """k-word shingles from an ALREADY MATERIALIZED token-array column.

    Callers must bind `toks` in its own projection (see shingle_rows):
    inlining `split(text)` here puts the regex split inside the
    `transform` lambda, where it is re-evaluated once PER SHINGLE
    (Catalyst does no subexpression elimination across lambda bodies —
    measured 25.4 s vs 2.3 s for the sf1.0 shingle pass, guide §1.2
    "per-task work")."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))).otherwise(
        F.array(F.array_join(toks, " "))
    )


def word_shingles(text: Column, k: int = 5) -> Column:
    """k-word shingles as strings (JVM): tokens joined with ' '.

    One-shot expression form (kept for API/tests); hot paths use
    `shingle_rows`, which evaluates the tokenizer once per document
    instead of once per shingle."""
    return _shingles_of_tokens(F.split(F.trim(text), "\\s+"), k)


def tokenized(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, toks) with the `\\s+` split evaluated ONCE per document;
    df's other columns ride along between the two (the near-dup
    operators carry each text group's size this way).

    The round-robin repartition does two jobs: it is the projection
    barrier that stops CollapseProject from re-inlining the split into
    downstream shingle lambdas (where it would run once per shingle),
    and it spreads the documents across the cluster — at bench scale
    the docs parquet is 1-2 input splits, so every pre-exchange stage
    otherwise runs on 1-2 tasks. The shuffle is one narrow linear pass
    of the tokenized text (same O(corpus) class as the dedup shuffle
    itself)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    carry = [c for c in df.columns if c not in (id_col, text_col)]
    return df.repartition(n_part).select(
        F.col(id_col).alias("id"),
        *carry,
        F.split(F.trim(F.col(text_col)), "\\s+").alias("toks"),
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """(id, s) exploded distinct k-shingles, split-once formulation (the
    scale path for every shingle consumer; semantics identical to
    `explode(array_distinct(word_shingles(text, k)))`). df's other
    columns ride along, as in `tokenized`."""
    t = tokenized(df, id_col, text_col)
    sh = F.array_distinct(_shingles_of_tokens(F.col("toks"), k))
    return t.select(*[c for c in t.columns if c != "toks"], F.explode(sh).alias("s"))


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: (text_hash, keep_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
    )


def _collapse_exact(
    df: DataFrame, id_col: str, val_col: str, val_as: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate group collapse shared by the near-dup family
    (proofs in ngram_jaccard_pairs): rows are grouped by md5 of the
    value rendered to string (an identity cast for text; for vectors
    the rendering `dataset_fingerprint` also uses).

    Returns `(groups, mem)`: groups = (th, gid = min id, <val_as> =
    the group's value, gsize), scalar aggregates only; mem = (gid, id)
    member rows, th-partitioned on both join sides so the join reuses
    the groupBy exchange — never a collected membership array, so a
    10⁸-doc pile of one value cannot form a hub row."""
    hashed = df.select(
        F.md5(F.col(val_col).cast("string")).alias("th"),
        F.col(id_col).alias("id"),
        F.col(val_col).alias(val_as),
    )
    groups = hashed.groupBy("th").agg(
        F.min("id").alias("gid"),
        F.first(val_as).alias(val_as),
        F.count(F.lit(1)).alias("gsize"),
    )
    mem = hashed.select("th", "id").join(
        groups.select("th", "gid"), "th"
    ).select("gid", "id")
    return groups, mem


def _expand_pairs(rep: DataFrame, intra: DataFrame, mem: DataFrame) -> DataFrame:
    """Group-level results → member pairs (a, b, *vals) with a < b.

    `rep` = (a, b, *vals) pairs of group representatives, expanded to
    every member cross-pair; `intra` = (gid, *vals) groups whose
    members all pair with each other (an exact duplicate scores like a
    self-pair). Join-based over the (gid, id) row table of
    `_collapse_exact` — one member row at a time, no hub arrays."""
    vals = [c for c in rep.columns if c not in ("a", "b")]
    cross = (
        rep.join(mem.selectExpr("gid AS a", "id AS x"), "a")
        .join(mem.selectExpr("gid AS b", "id AS y"), "b")
        .selectExpr("least(x, y) AS a", "greatest(x, y) AS b", *vals)
        .filter("a < b")
    )
    inner = (
        intra.join(mem.selectExpr("gid", "id AS x"), "gid")
        .join(mem.selectExpr("gid", "id AS y"), "gid")
        .filter("x < y")
        .selectExpr("x AS a", "y AS b", *vals)
    )
    return cross.unionByName(inner)


def _bucket_pairs(
    banded: DataFrame,
    keys: list[str],
    groups: DataFrame,
    profile: ScaleProfile,
    carry: tuple[str, ...] = (),
    verify: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Banded-bucket pair generation between group representatives,
    with the hot-bucket guard every banded near-dup operator shares.

    `banded` = (gid, gsize, *keys, *carry): one row per (group, band
    bucket); `groups` = (gid, gsize) of every group that was banded.
    Returns `(rep, intra_src)`: rep = distinct (a, b, *[c_a, c_b for c
    in carry]) rep pairs with a < b sharing a bucket (and passing
    `verify`, a row predicate over those columns, applied BEFORE the
    distinct so it shuffles only survivors); intra_src = (gid) of the
    multi-member groups whose members pair with each other.

    The guard reads `profile.max_bucket` (N) and `profile.oversize`. A
    plain groupBy(keys) + collect_list would materialize an adversarial
    bucket's whole membership (10⁶ boilerplate docs with one band
    signature) — and its C(n,2) pair array — in ONE row/task, an
    executor OOM. Instead a window census in DOC units (Σ gsize, so the
    cap keeps its doc-count meaning under the group collapse) tags every
    banded row with its bucket size in ONE shuffle by the bucket key,
    which the collect's groupBy reuses — an aggregate-then-join census
    would plan the banded subtree twice with no exchange reuse
    (measured +55% on the sf0.1 minhash contract query). Oversized
    groups buffer linearly in the window (spill-backed), never a pair
    explosion. Buckets ≤ N pair in-array (arrays bounded by N);
    oversized buckets follow `oversize`:
      * "join" — a streaming equi-self-join on the keys: the same
        quadratic pair COUNT, row-at-a-time, never one giant row (output
        = every pair that shares a bucket key). Parallelism is bounded
        by the number of oversized KEYS (one hot key = one task —
        measured 188 s on one task for a planted 10k-doc bucket), so
        "join" buys OOM immunity, not speed: at scale prefer "drop";
      * "drop" — skip them (semantics change: near-dups sharing ONLY a
        saturated bucket are lost; a bucket hotter than a reasonable
        N carries boilerplate, not signal). A group then keeps its
        intra pairs only while it still has a surviving bucket — the
        condition under which its members would have been paired
        without the collapse."""
    elem = F.struct("gid", *carry) if carry else F.col("gid")
    tagged = banded.withColumn(
        "sz", F.sum("gsize").over(Window.partitionBy(*keys))
    ).filter(F.col("sz") >= 2)
    fits = F.col("sz") <= profile.max_bucket
    small = tagged.filter(fits).groupBy(*keys).agg(F.collect_list(elem).alias("ids"))
    pairs = _in_array_pairs(small, carry=carry)
    if profile.oversize == "join":
        big = tagged.filter(~fits)
        on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        on.append(F.col("l.gid") < F.col("r.gid"))
        sides = [("l", "a"), ("r", "b")]
        pairs = pairs.unionByName(
            big.alias("l").join(big.alias("r"), on).select(
                *[F.col(f"{t}.gid").alias(s) for t, s in sides],
                *[F.col(f"{t}.{c}").alias(f"{c}_{s}") for c in carry for t, s in sides],
            )
        )
        intra_src = groups.filter(F.col("gsize") >= 2).select("gid")
    else:
        # every bucket of a group holds ≥ gsize docs, so the sz ≥ 2
        # census filter never hides a multi-member group's bucket
        intra_src = tagged.filter(fits & (F.col("gsize") >= 2)).select("gid").distinct()
    if verify is not None:
        pairs = pairs.filter(verify)
    return pairs.distinct(), intra_src


def _spread(df: DataFrame, *partition_args) -> DataFrame:
    """`df.repartition(*partition_args)`, unless `df` is already one
    partition by construction: its plan reports `SinglePartition`, as a
    plan whose inputs all pass through `coalesce(1)` does (the web
    pipeline links a driver-sized surface table that way). Spark runs
    such a region with no exchange under its aggregates, distincts and
    shuffled joins; a spread would split it again, at one job and one
    AQE stage per site. Any other plan, a one-file scan included,
    reports another partitioning and is spread as before."""
    plan = df._jdf.queryExecution().sparkPlan()
    try:
        single = plan.outputPartitioning().toString() == "SinglePartition"
    except IllegalArgumentException:
        # a join whose children differ in partition count before the
        # planner adds its exchanges: not one partition
        single = False
    return df if single else df.repartition(*partition_args)


def _in_array_pairs(
    buckets: DataFrame, ids_col: str = "ids", carry: tuple[str, ...] = ()
) -> DataFrame:
    """(…, ids: array) → (a, b) with a < b: all unordered pairs from
    each row's array, via a lambda index + slice (arg2 of a 2-arg HOF
    lambda is the element INDEX). Caller guarantees the arrays are
    size-bounded — this explodes C(n,2) structs from ONE row. With
    `carry`, the elements are structs (gid, *carry) and each pair also
    gets both sides' carried fields as c_a, c_b (gid is field 1, so
    sorting still orders pairs a < b).

    The explicit round-robin repartition exists because the groupBy
    feeding this is BYTE-small (one row per bucket), so AQE coalesces
    it to a couple of partitions — and then the C(n,2) explosion runs
    on 2 tasks instead of 32 (measured: the embedding guard's pair
    stage at 2×10M shuffle-write records per task). Row size is a bad
    proxy for explode cost; spread the buckets first. The array is
    SORTED in its own projection BELOW the exchange — referenced
    inside the pair lambdas it would re-sort once per element
    (Catalyst does no CSE across lambda bodies; same hazard as the
    tokenizer split, see _shingles_of_tokens). Buckets that are one
    partition by construction stay unspread (see `_spread`)."""
    n_part = int(buckets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    buckets = _spread(buckets.select(F.array_sort(F.col(ids_col)).alias("__ids")), n_part)
    # one server-side-parsed expression: the Column-API spelling of
    # this nested lambda costs dozens of py4j round trips per plan
    # construction (measured ~1.5-2 s of bench time per dedup query
    # across such sites)
    fields = ["x.gid AS a", "y.gid AS b"] if carry else ["x AS a", "y AS b"]
    fields += [f"{v}.{c} AS {c}_{s}" for c in carry for v, s in (("x", "a"), ("y", "b"))]
    pair_structs = F.expr(
        "flatten(transform(__ids, (x, i) -> "
        "transform(slice(__ids, i + 2, size(__ids)), "
        f"y -> struct({', '.join(fields)}))))"
    )
    return buckets.select(F.explode(pair_structs).alias("p")).select("p.*")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    profile: ScaleProfile = SAFE,
) -> DataFrame:
    """Near-dup candidate pairs (a, b) with a < b sharing ≥1 LSH band.
    rows_per_band = num_hashes // bands.

    `profile` (kgforge.profile.ScaleProfile) arms the hot-bucket guard
    shared with simhash and embedding near-dups: its max_bucket and
    oversize, documented on `_bucket_pairs`.

    Round-7 reformulation, OUTPUT-IDENTICAL (same lossless group
    collapse as the rest of the dedup family, proofs in
    ngram_jaccard_pairs): the signature — hence every band key — is a
    pure function of the text, so identical texts always co-bucket.
    Signatures are computed once per distinct text, candidates
    generated between group reps (census doc-weighted: Σ gsize, so
    max_bucket/oversize fire on the same buckets as before), then
    expanded through a (gid, id) row table. Intra-group pairs share
    all bands; under oversize="drop" they survive exactly while the
    group still has a surviving bucket.
    """
    rows = num_hashes // bands
    groups, mem = _collapse_exact(df, id_col, text_col)

    # signatures per distinct text, with gsize riding the shingle
    # explode + signature aggregate as a first() — no second join
    # against the groups subtree
    sh = shingle_rows(groups.select("gid", "gsize", "text"), "gid", "text", 5)
    sig = sh.groupBy(F.col("id").alias("gid")).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"seed{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(num_hashes)
        ],
        F.first("gsize").alias("gsize"),
    )
    band_arr = ", ".join(
        "struct({b} AS band, concat_ws('|', {hs}) AS key)".format(
            b=b, hs=", ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    banded = sig.select(
        "gid", "gsize", F.explode(F.expr(f"array({band_arr})")).alias("bk")
    ).select("gid", "gsize", "bk.band", "bk.key")

    rep, intra_src = _bucket_pairs(banded, ["band", "key"], groups, profile)
    return _expand_pairs(rep, intra_src, mem)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
    profile: ScaleProfile = SAFE,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (a, b, jaccard ≥ threshold).
    Candidate pairs via shared-shingle join, with shingles occurring in
    more than `max_df` docs dropped as join keys (skew guard).

    Candidate-count bound: a shingle kept by the guard contributes at
    most max_df·(max_df−1)/2 pairs, so candidates ≤ Σ_s C(min(df_s,
    max_df), 2) — bounded per-shingle regardless of how stopword-heavy
    the corpus is. At 100 TB an ABSOLUTE cap is the wrong knob (a
    1000-doc shingle in a 10^12-doc corpus is vanishingly rare yet
    still yields ~500k pairs): a `profile` whose ngram_max_df_frac is
    set replaces `max_df` with max(2, ⌊n_docs·frac⌋), i.e. "drop any
    shingle shared by more than this fraction of the corpus" — it
    scales with the data and keeps the guard meaningful at every size.
    A shingle shared by more than a tiny fraction of documents carries
    no near-dup signal, only quadratic join fan-out.

    OUTPUT-IDENTICAL round-7 reformulation (the round-6 shape exploded
    Σ_s C(df_s, 2) candidate pairs — 5.1e8 at the sf1.0 bench, 110 s —
    then counted intersections by groupBy(pair); this one produces the
    same rows from two published, lossless prunes):

    1. EXACT-TEXT GROUP COLLAPSE (guide §8: decide on lightweight
       reps, attach the decision back). Documents are grouped by
       md5(text) — the identity primitive `dedup_exact` already keys
       on. Every member of a group has the same shingle set, the same
       n, and the same rare-shingle set, so every pairwise decision
       (candidate or not, inter, jaccard) is a function of the two
       GROUPS only. Pairs are computed once between group
       representatives and expanded to member cross-products at the
       end; intra-group pairs share their whole rare set (inter =
       n_rare, jaccard = n_rare/(2n − n_rare)) and are emitted
       directly when that passes the same ≥-threshold filter. The
       bench corpus carries a planted exact clone per doc, so this
       alone quarters the quadratic candidate volume.
    2. PREFIX FILTERING (SSJoin/PPJoin, Chaudhuri et al. ICDE'06 /
       Xiao et al. WWW'08 — lossless). For a qualifying pair,
       inter ≥ t·(na+nb)/(1+t) and inter ≤ min(n_rare_a, n_rare_b) ≤
       min(na, nb), hence inter ≥ t·na and inter ≥ t·nb. Order all
       shingles by the global total order (df asc, shingle asc) —
       rarest first. If each doc indexes only the first
       n_rare − c + 1 of its rare shingles (c = max(1,
       ⌊t·na − 1e-9⌋) ≤ the pair's true overlap bound), the
       minimum-order element of A'∩B' provably lands in BOTH prefixes
       (if it were outside A's prefix, all of A'∩B' would sit in A's
       last c−1 elements, contradicting |A'∩B'| ≥ c). So generating
       candidates from prefix shingles only loses nothing, and prefix
       shingles are by construction the RAREST — the stopword-shaped
       buckets that caused the quadratic blowup never pair at all.
       The 1e-9 slack makes c conservative against float rounding
       (a smaller c only lengthens the prefix — still lossless).
       POSITIONAL FILTER (PPJoin): for the pair's minimum-order common
       element z, inter ≤ 1 + min(u_a(z), u_b(z)) where u = n_rare −
       rk is the count of elements after that slot — everything common
       is z or sits after z in each side's sorted rare list. z is in
       both prefixes and attains BOTH maxima of u over the pair's
       prefix-match occurrences, so the bound can be applied twice,
       losslessly: per OCCURRENCE before the pair-dedup shuffle (an
       occurrence failing 1 + min(u_a, u_b) ≥ t·(na+nb)/(1+t) can
       never be z of a qualifying pair, and z itself always survives),
       and per PAIR after aggregating max(u) on both sides (= the
       bound at z). Measured: 20.8M → 2.4M verified pairs at sf1.0.
    2b. TIER-0 BITMAP FILTER (lossless, in-lambda): each group carries
       a 256-bit bitmap of its rare-shingle hashes (4 longs, folded
       from the per-group sorted rare array). popcount(OR of the two
       bitmaps)
       ≤ |union|, so na + nb − popcount(OR) is an upper bound on the
       intersection; pairs whose bound misses t/(1+t)·(na+nb) are
       rejected before the pair shuffle. See the inline comment for
       why OR (not AND) is the sound direction.
    3. Exact verification, two-tier: tier 1 joins each side's
       collected array of xxhash64'd rare shingles and intersects
       those narrow longs — distinct shingles can only collide INTO
       the same hash, so the hash intersection ≥ the true one and a
       threshold failure is a lossless reject (that is ~every
       candidate). Tier 2 re-intersects the actual shingle-string
       arrays for the tiny surviving set; inter = size(
       array_intersect) — the same shared-rare-shingle count the
       groupBy formulation produced — then the identical jaccard
       expression and ≥-threshold filter. Output exact for every
       input: a collision costs tier-2 work, never a wrong row.

    Guard interplay (unchanged semantics): a group larger than max_df
    forces df_s > max_df on every one of its shingles, so it has NO
    rare shingles — its intra pairs were never emitted by the round-6
    shape either (inter ≥ 1 never holds), and `n_rare ≥ 1` preserves
    that here. Member expansion is JOIN-based (a (gid, id) row table,
    never a collected membership array), so a degenerate pile of 10⁸
    identical docs cannot form a hub row — the same bounded-memory
    posture as the banded-bucket guards. Assumes unique doc ids (as
    the whole dedup family does)."""
    if profile.ngram_max_df_frac is not None:
        n_docs = df.count()  # one cheap aggregate, driver-side knob
        max_df = max(2, int(n_docs * profile.ngram_max_df_frac))
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    # -- 1. collapse exact-duplicate texts ------------------------------
    groups, mem = _collapse_exact(df, id_col, text_col)

    # -- shingles once per distinct text, split-once + spread ----------
    ex = shingle_rows(
        groups.select("gid", "gsize", "text"), "gid", "text", shingle_k
    ).withColumnRenamed("id", "gid")

    # -- 2. doc-weighted df census in ONE pass by s (window), then ONE
    # groupBy(gid) aggregate for EVERYTHING per-group (round-7
    # continuation — replaces the rank-window chain): each group
    # collects its rare (dft, s, xh) structs once; a projection above
    # derives the sorted rare array, sizes, the prefix entries (by
    # slice — rank = array position after array_sort on (dft, s), the
    # identical global rarest-first order), the tier-1/2 verify arrays
    # and the tier-0 bitmap, all behind ONE hash-repartition barrier.
    # The former shape computed two windows over the 2.6M-row exploded
    # table and re-executed them once per pruned consumer (profiled:
    # 3 Window+aggregate stages ≈ 90 s task-CPU at the sf1.0 bench);
    # this shape runs the census window once, sorts ~50-element arrays
    # per GROUP instead of sorting the whole partition, and the
    # barrier exchange carries one row per group.
    exd = ex.withColumn(
        "dft", F.sum("gsize").over(Window.partitionBy("s"))
    ).withColumn("is_common", F.col("dft") > max_df)

    t_f = float(threshold)
    per0 = exd.groupBy("gid").agg(
        F.collect_list(
            F.when(
                ~F.col("is_common"),
                F.struct(
                    F.col("dft"), F.col("s"), F.xxhash64(F.col("s")).alias("xh")
                ),
            )
        ).alias("rs0"),
        F.count(F.lit(1)).alias("n"),
    )
    # prefix length = n_rare − c + 1 with c = max(1, ⌊t·n − 1e-9⌋);
    # `u` = elements remaining at/after a prefix slot (n_rare − rk).
    # The 256-bit bitmap (4 longs, one hash bit per rare shingle) feeds
    # the in-lambda tier-0 filter below.
    per = (
        per0.selectExpr("gid", "n", "array_sort(rs0) AS rs")
        .selectExpr(
            "gid",
            "n",
            "CAST(size(rs) AS BIGINT) AS n_rare",
            "transform(rs, e -> e.xh) AS hs",
            "transform(rs, e -> e.s) AS ss",
            (
                "transform(slice(rs, 1, greatest(0, size(rs) - "
                f"greatest(1, CAST(floor({t_f!r} * n - 1e-9) AS INT)) + 1)), "
                "(e, i) -> struct(e.s AS s, "
                "CAST(size(rs) - (i + 1) AS BIGINT) AS u)) AS pref"
            ),
            *[
                f"aggregate(rs, CAST(0 AS BIGINT), (acc, e) -> acc | "
                f"IF(pmod(e.xh, 256) DIV 64 = {j}, "
                f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(e.xh, 64) AS INT)), "
                f"CAST(0 AS BIGINT))) AS w{j}"
                for j in range(4)
            ],
        )
        .repartition(n_part, "gid")
    )

    prefix = per.select(
        "gid", F.explode("pref").alias("p"), "n", "w0", "w1", "w2", "w3"
    ).select(
        "gid",
        F.col("p.s").alias("s"),
        F.col("p.u").alias("u"),
        "n",
        "w0",
        "w1",
        "w2",
        "w3",
    )

    # -- candidates: rep pairs sharing a PREFIX shingle (buckets are
    # bounded by df_s ≤ max_df, as before), each occurrence carrying
    # the positional data the PPJoin filter needs --------------------
    # the struct array is sorted in its own projection BELOW the
    # repartition exchange: referenced inside the pair lambdas the
    # sort would re-run once per element (no CSE across lambda bodies)
    buckets = (
        prefix.groupBy("s")
        .agg(
            F.collect_list(
                F.struct("gid", "u", "n", "w0", "w1", "w2", "w3")
            ).alias("es0")
        )
        .filter(F.size("es0") >= 2)
        .select(F.array_sort("es0").alias("es"))  # gid is field 1 → a < b
    ).repartition(n_part)
    # positional filter applied PER OCCURRENCE, INSIDE the pair-array
    # construction (the lambda filters partners before the struct is
    # built, so the generate emits only the surviving structs instead
    # of materializing all 2.08e7 and filtering after — same predicate,
    # same survivors): for a qualifying pair the z occurrence attains
    # BOTH max remaining-counts, so its individual bound equals the
    # pair-level bound and it survives; occurrences that fail
    # individually can never be z of a qualifying pair. The groupBy
    # then re-applies the test at the pair level (max(u) both sides =
    # the z bound).
    #
    # TIER-0 BITMAP FILTER (round-7 continuation), also in-lambda and
    # lossless: popcount(wA | wB) ≤ |rareA ∪ rareB| (every distinct set
    # bit requires ≥ 1 element), hence
    #   inter = n_rare_a + n_rare_b − |union| ≤ x.n + y.n − popcount(OR)
    # (n ≥ n_rare keeps it an upper bound), so a pair whose bound
    # already misses inter ≥ t/(1+t)·(na+nb) can never verify. On the
    # bench corpus this rejects ~99% of positional-filter survivors
    # before the pair shuffle and the array-intersect verify (2.43M →
    # ~2.6k pairs; the 62 s-CPU verify stage collapses). NOTE the OR
    # direction: popcount(AND) is NOT a bound on the intersection —
    # two common elements can collide into one bit (measured: it
    # silently drops true pairs).
    _bb = (
        "CAST(x.n + y.n - (bit_count(x.w0 | y.w0) + bit_count(x.w1 | y.w1) "
        "+ bit_count(x.w2 | y.w2) + bit_count(x.w3 | y.w3)) AS DOUBLE)"
    )
    pair_structs = F.expr(
        "flatten(transform(es, (x, i) -> "
        "transform("
        f"filter(slice(es, i + 2, size(es)), "
        f"y -> (1 + least(x.u, y.u)) >= "
        f"(CAST({t_f!r} AS DOUBLE) / {1.0 + t_f!r} * (x.n + y.n) - 1e-9) "
        f"AND {_bb} >= "
        f"(CAST({t_f!r} AS DOUBLE) / {1.0 + t_f!r} * (x.n + y.n) - 1e-9)), "
        "y -> struct(x.gid AS a, y.gid AS b, x.u AS ua, y.u AS ub, "
        "x.n AS na, y.n AS nb))))"
    )
    cpair = F.lit(t_f) / (1.0 + t_f) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    pos_ok = (1 + F.least(F.col("ua"), F.col("ub"))) >= cpair
    occ = buckets.select(F.explode(pair_structs).alias("p")).select("p.*")
    # Pair-level bounds, both lossless: (1) the z bound again —
    # max(u) both sides is exactly the bound at the first shared
    # prefix element; (2) the LAST-position bound (PPJoin's running-
    # overlap refinement): every common element is either a shared
    # prefix occurrence (cnt of them) or sits strictly after the LAST
    # shared prefix element in both sorted rare lists, so
    # inter ≤ cnt + min(min(ua), min(ub)) — min(u) is the remaining
    # count at that last shared slot. Pairs failing either bound
    # cannot reach the threshold and skip the array-intersect verify.
    cand = occ.groupBy("a", "b").agg(
        F.max("ua").alias("ua"),
        F.max("ub").alias("ub"),
        F.min("ua").alias("mua"),
        F.min("ub").alias("mub"),
        F.count(F.lit(1)).alias("cnt"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    last_ok = (F.col("cnt") + F.least(F.col("mua"), F.col("mub"))) >= cpair
    cand = cand.filter(pos_ok & last_ok).select("a", "b", "na", "nb")

    # -- 3. two-tier exact verify + jaccard -----------------------------
    # Tier 1 (cheap, lossless REJECT): intersect the per-group arrays
    # of xxhash64'd rare shingles. |hash(A) ∩ hash(B)| ≥ |A ∩ B| —
    # distinct shingles can only collide INTO the same hash, never out
    # of it — so any pair whose hash-intersection already fails the
    # threshold can be dropped exactly, and that is ~all of them. Long
    # arrays are ~2.5× narrower than the shingle strings and the
    # intersection compares 8-byte values.
    ra = per.select(F.col("gid").alias("a"), F.col("hs").alias("ha"))
    rb = per.select(F.col("gid").alias("b"), F.col("hs").alias("hb"))
    t1 = (
        cand.join(ra, "a")
        .join(rb, "b")
        .withColumn("ih", F.size(F.array_intersect("ha", "hb")).cast("long"))
        .filter(F.col("ih") >= 1)
        .filter(
            F.col("ih").cast("double")
            / (F.col("na") + F.col("nb") - F.col("ih")).cast("double")
            >= threshold
        )
        .select("a", "b", "na", "nb")
    )
    # Tier 2 (exact, tiny input — the true positives plus any 64-bit
    # collision survivors): intersect the actual shingle-string arrays
    # for the t1 survivors and apply the identical jaccard expression.
    # t1 scales with the true near-dup rep pairs, so AQE broadcasts it
    # and the string arrays stream join-side without a wide shuffle.
    sa = per.select(F.col("gid").alias("a"), F.col("ss").alias("sa"))
    sb = per.select(F.col("gid").alias("b"), F.col("ss").alias("sb"))
    scored = (
        t1.join(sa, "a")
        .join(sb, "b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")).cast("long"))
        .filter(F.col("inter") >= 1)
        .select(
            "a",
            "b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )

    # -- intra-group pairs: inter = n_rare, sizes equal -----------------
    gi = per.select("gid", "n", "n_rare")
    intra = (
        groups.filter(F.col("gsize") >= 2)
        .join(gi, "gid")
        .filter(F.col("n_rare") >= 1)
        .withColumn(
            "jaccard",
            F.col("n_rare").cast("double")
            / (F.col("n") + F.col("n") - F.col("n_rare")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("gid", "jaccard")
    )
    return _expand_pairs(scored, intra, mem)


# --------------------------------------------------------------- SimHash
# 60 bits: the widest md5-hex prefix (15 nibbles) that fits a signed
# 64-bit integer in EVERY engine (Spark ANSI cast and DuckDB ::BIGINT
# both reject ≥ 2^63), keeping the signature oracle-checkable.
_SIMHASH_BITS = 60
_CHUNK_BITS = 15  # 4 chunks × 15 bits; pigeonhole for hamming ≤ 3


# Packed-lane bit counting (round-7): two bit-counters of _LANE_BITS
# share one packed long, so the per-doc aggregate is 30 packed sums +
# a count instead of 60 conditional sums. A lane holds counts up to
# 2^30−1; a JVM string is capped at 2 GiB, so one document can never
# reach 2^30 whitespace tokens and lane overflow is impossible by
# construction — the packed path is exact for every representable
# input, no fallback branch needed.
_LANES = 2
_LANE_BITS = 30
_LANE_CAP = (1 << _LANE_BITS) - 1
_N_PACKED = _SIMHASH_BITS // _LANES  # 30 packed sums


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash:long) — pure JVM column expressions.

    Formulation (replaces the round-1 per-row Python loop, which was
    the engine's only row-at-a-time hot path — 6.07s vs 0.69s for
    exact dedup at sf0.1): explode whitespace tokens, md5 each token
    ONCE, take 60 bits via conv(hex,16,10), then ONE hash-aggregate of
    packed-lane bit counters: bits 2j and 2j+1 of the token hash land
    in the two 30-bit lanes of packed long j, and summing those longs
    sums both counters at once (30 packed sums + count vs the former
    60 conditional sums — narrower shuffle rows, half the aggregation
    hashmap updates). Bit b of the signature is set iff 2·count_b > n
    — the identical sign rule (sum(±1) > 0 ⇔ 2·count − n > 0), so
    signatures are bit-identical. A 30-bit lane holds counts to 2^30−1
    and a 2 GiB JVM string can never split into that many tokens, so
    lane overflow is impossible for any representable document.

    Empty/whitespace-only documents hash to 0 (no tokens, no bits).
    """
    with_sig = _simhash_core(df, id_col, text_col)
    # docs whose every token was filtered (empty text) must still get a
    # signature (0), like the reference formulation
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return all_ids.join(with_sig, "id", "left").select(
        "id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def _simhash_core(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) for documents with ≥1 token — the aggregate heart
    of `simhash`, without the all-ids re-attach (callers that already
    hold a unique-id table left-join this and coalesce to 0)."""
    toks = (
        tokenized(df, id_col, text_col)
        .select("id", F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    toks = toks.select("id", h.alias("h"))

    # per-row packed spread: bit 2j+l of h lands in lane l (bit
    # position 30·l) of packed long j — pure shift/mask arithmetic.
    # Both the spreads and the signature recombination are composed as
    # SQL strings and parsed server-side in ONE call each: building
    # the same trees through the Column API costs hundreds of py4j
    # round trips (~1.5 s of pure plan-construction per query).
    def _spread(j: int) -> Column:
        terms = []
        for lane in range(_LANES):
            b = _LANES * j + lane
            t = f"(shiftright(h, {b}) & 1)"
            if lane:
                t = f"shiftleft({t}, {_LANE_BITS * lane})"
            terms.append(t)
        return F.expr(" + ".join(terms))

    sums = toks.groupBy("id").agg(
        *[F.sum(_spread(j)).alias(f"p{j}") for j in range(_N_PACKED)],
        F.count(F.lit(1)).alias("n"),
    )

    sig_terms = []
    for b in range(_SIMHASH_BITS):
        j, lane = divmod(b, _LANES)
        cnt = f"(shiftright(p{j}, {_LANE_BITS * lane}) & {_LANE_CAP})"
        sig_terms.append(
            f"IF({cnt} * 2 > n, CAST({1 << b} AS BIGINT), CAST(0 AS BIGINT))"
        )
    sig = F.expr(" + ".join(sig_terms))
    return sums.select("id", sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    profile: ScaleProfile = SAFE,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.
    Candidates via banded equality (4×15-bit chunks: any pair within
    hamming 3 shares ≥1 identical chunk — pigeonhole), verified with
    bit_count(xor) on the JVM.

    Hot-bucket guard (same class as `minhash_lsh_candidates`): every
    empty/whitespace document hashes to simhash 0 (`simhash`
    docstring), so ALL of them share all four (chunk, 0) band keys —
    one crawl shard with 10⁶ empty-extraction pages makes one key emit
    C(10⁶, 2) ≈ 5×10¹¹ garbage pairs. `profile` arms two independent
    guards:

    * `simhash_drop_zero` pre-drops simhash-0 docs entirely — their
      mutual duplication is EXACT (empty == empty) and belongs to
      `dedup_exact`, not a similarity join. Semantics-changing (pairs
      among empty docs are no longer reported here); off in SAFE.
    * `max_bucket` + `oversize` — the census guard shared with
      minhash and embedding near-dups (`_bucket_pairs`) on the
      (chunk, ck) buckets. Under "drop", any true near-dup pair inside
      a hot bucket almost surely shares one of its three other,
      colder chunk keys.

    Round-7 reformulation, OUTPUT-IDENTICAL (same two lossless moves
    as `ngram_jaccard_pairs`, proofs there):

    * EXACT-TEXT GROUP COLLAPSE: the signature is a pure function of
      the text, so identical texts get identical signatures, identical
      chunk keys and pairwise hamming 0. Candidates are generated
      between group representatives only (the census stays DOC-
      weighted — bucket size = Σ gsize — so the max_bucket/oversize
      thresholds fire on exactly the same buckets as before), then
      expanded to member pairs through a (gid, id) row table (join-
      based, no membership arrays — a 10⁸-doc pile of one text cannot
      form a hub row). Intra-group pairs always share every chunk and
      have hamming 0; under oversize="drop" they are emitted only when
      the group still has a surviving bucket, which is exactly when
      the round-6 shape emitted them.
    * VERIFY BEFORE THE DEDUP SHUFFLE: filter-then-distinct ≡
      distinct-then-filter for a pure row predicate, but the distinct
      then shuffles only true near-dups instead of every banded
      collision (1.12e8 candidate rows at the sf1.0 bench, ~2e5
      survivors — guide §2.3 "shuffle fewer bytes").
    """
    groups, mem = _collapse_exact(df, id_col, text_col)

    # -- signatures per distinct text -----------------------------------
    # gids are unique (min-id per text hash), so the empty-doc
    # re-attach left-joins the groups table DIRECTLY — gsize rides that
    # one join instead of a second pass over the groups subtree, and
    # the distinct() inside simhash() is skipped
    core = _simhash_core(
        groups.select(F.col("gid").alias("doc_id"), "text"), "doc_id", "text"
    ).withColumnRenamed("id", "gid")
    gsig = groups.select("gid", "gsize").join(core, "gid", "left").select(
        "gid", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"), "gsize"
    )
    if profile.simhash_drop_zero:
        gsig = gsig.filter(F.col("simhash") != 0)

    mask = (1 << _CHUNK_BITS) - 1
    chunk_arr = ", ".join(
        f"struct({c} AS chunk, "
        f"shiftright(simhash, {c * _CHUNK_BITS}) & {mask} AS ck)"
        for c in range(4)
    )
    chunks = gsig.select(
        "gid",
        "simhash",
        "gsize",
        F.explode(F.expr(f"array({chunk_arr})")).alias("b"),
    ).select("gid", "simhash", "gsize", "b.chunk", "b.ck")

    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    rep, intra_src = _bucket_pairs(
        chunks, ["chunk", "ck"], gsig, profile,
        carry=("simhash",), verify=ham <= max_hamming,
    )
    out = _expand_pairs(
        rep.select("a", "b", ham.alias("hamming")),
        intra_src.select("gid", F.lit(0).alias("hamming")),
        mem,
    )
    return out.filter(F.col("hamming") <= max_hamming)
