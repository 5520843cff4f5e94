"""Entity linking: MinHash-LSH candidate blocking + cosine scoring (J2).

Key scale decision: linking operates on DISTINCT surface forms, not on
mention occurrences — at 10^12 documents the distinct-surface table is
orders of magnitude smaller than the mention stream, and the expensive
pairwise work happens only inside LSH buckets.

Pipeline:
  distinct surfaces → exact case-fold tier (one window tags each
  surface with its representative) → char-3-gram shingles (JVM
  expression) → banded MinHash blocking over the case-fold
  representatives (`candidate_pairs_minhash`, buckets paired under the
  shared hot-bucket guard `kgforge.textops.dedup._bucket_pairs`) →
  hybrid scoring, the max of the Otsuka–Ochiai set cosine
  |A∩B|/sqrt(|A||B|) and normalized Levenshtein similarity, fully
  JVM-columnar (`score_set_cosine`)
  → sameAs edges (a, b, score) with a < b above `threshold`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.profile import SAFE, ScaleProfile
from kgforge.textops.dedup import _bucket_pairs, _spread

#: MinHash functions of the linking LSH and rows per band key: 8 bands
#: of 3 (see candidate_pairs_minhash)
_NUM_HASHES = 24
_ROWS_PER_BAND = 3

# Hot expressions are composed as SQL text and parsed on the JVM in one
# call each: the Column-API spelling of the 24 signature minima, the
# band structs and the pair predicates cost one or two py4j round trips
# per node, thousands per pipeline run.


def char_ngrams(col: str, n: int = 3) -> str:
    """Char n-grams of SQL expression `col` as SQL text (no Python):
    substrings at every offset of lower(col)."""
    s = f"lower({col})"
    return f"transform(sequence(1, greatest(length({s}) - {n - 1}, 1)), i -> substring({s}, i, {n}))"


# max of gram-set cosine and normalized Levenshtein similarity
_SET_COSINE = (
    "greatest("
    "CAST(size(array_intersect(array_distinct(grams_a), array_distinct(grams_b))) AS DOUBLE)"
    " / sqrt(CAST(size(array_distinct(grams_a)) AS DOUBLE)"
    " * CAST(size(array_distinct(grams_b)) AS DOUBLE)), "
    "1.0D - CAST(levenshtein(lower(a), lower(b)) AS DOUBLE)"
    " / CAST(greatest(length(lower(a)), length(lower(b))) AS DOUBLE))"
)


def score_set_cosine(pairs: DataFrame) -> DataFrame:
    """Hybrid similarity, pure JVM columnar: max of
      * Otsuka–Ochiai cosine over gram SETS (robust to reordering and
        affixes), and
      * normalized Levenshtein similarity (robust to single-char typos
        in short strings, where one edit kills 3 of ~8 grams).
    Casing is already normalized by the gram builder; levenshtein runs
    on lower()."""
    return pairs.selectExpr("*", f"{_SET_COSINE} AS score")


def candidate_pairs_minhash(
    surfaces: DataFrame,
    surface_col: str = "surface",
    *,
    prune_threshold: float,
    profile: ScaleProfile = SAFE,
) -> DataFrame:
    """Candidate pairs via xxhash64-banded MinHash over char-3-grams — the
    engine's own LSH (same primitive as kgforge.textops.dedup), pure
    column expressions end to end, no ml vectors.

    r=3 bands (8 bands of 3 hashes): a band key is a TRIPLE of
    min-hashes, so unrelated surfaces sharing common grams (syllable
    skew) rarely collide — with r=1 the common-gram buckets go
    quadratic (observed: runaway join on 20k surfaces). Candidate
    probability at gram-Jaccard j is 1-(1-j³)^b: 0.86 at j=0.6 with
    b=8 per band-theory — but measured on a 770k-surface corpus r=3
    yields MORE edges than r=2 (448.2k vs 444.9k) at 0.76× the cost,
    because r=2's common band keys form oversized buckets that the
    bucket guard then drops wholesale; r=3's buckets stay under the
    guard, so fewer true pairs are sacrificed to skew.

    Buckets pair through `kgforge.textops.dedup._bucket_pairs`, the
    hot-bucket guard of the dedup family, under `profile`: every
    surface is its own group (gsize 1) carrying its gram count `ng`.
    Buckets of up to `profile.max_bucket` surfaces pair in-array; larger
    ones stream through a self-join under SAFE and are dropped under
    `oversize="drop"` (a bucket with thousands of members carries no
    linkage signal, only quadratic garbage pairs).

    `prune_threshold` t: the caller scores with max(set-cosine,
    normalized Levenshtein) ≥ t, so pairs that CANNOT reach t are
    dropped (`_bucket_pairs`' verify, before its distinct shuffle)
    using two sound upper bounds —
    set_cos ≤ sqrt(min(ng)/max(ng)) (intersection ≤ smaller gram set)
    and lev_sim ≤ 1 − |len_a−len_b| / max(len) (lev ≥ length delta).
    """
    # repartition BEFORE the heavy map work: the distinct/groupBy
    # feeding this is AQE-coalesced to a handful of partitions (it is
    # small), which would strand the gram-explode + signature
    # aggregation on ~10 tasks (measured par 4.3/8 at 8 cores). The
    # explicit exchange costs one tiny shuffle and restores full
    # width; the groupBy(surface) below then reuses its partitioning.
    # A one-partition input (the pipeline's driver-sized route) stays
    # one partition, so the whole stage plans with no exchange.
    base = _spread(
        surfaces.selectExpr(f"`{surface_col}` AS surface").distinct(), "surface"
    ).selectExpr("surface", f"explode(array_distinct({char_ngrams('surface')})) AS g")
    # xxhash64 (8-byte long, zero allocation) not md5 (64-char string):
    # the signature stage hashes ~24× per gram row — md5 strings were
    # the engine's largest allocation source and a measured GC/scaling
    # drag; banding needs uniformity, not a cross-engine hash (the
    # linking contract is F1-gated, not SQL-oracled). The band keys are
    # built over the minima inside the aggregate's result expression.
    bands = ", ".join(
        "struct({b} AS band, xxhash64({mins}) AS key)".format(
            b=b,
            mins=", ".join(
                f"min(xxhash64({b * _ROWS_PER_BAND + r}, g))" for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(_NUM_HASHES // _ROWS_PER_BAND)
    )
    sig = base.groupBy("surface").agg(
        F.expr("count(1) AS ng"),  # distinct-gram count (free here)
        F.expr(f"array({bands}) AS bks"),
    )
    banded = sig.selectExpr("surface AS gid", "1 AS gsize", "ng", "inline(bks)")
    t = f"CAST({float(prune_threshold)!r} AS DOUBLE)"
    la, lb = "CAST(length(a) AS DOUBLE)", "CAST(length(b) AS DOUBLE)"
    prune = F.expr(
        f"sqrt(CAST(least(ng_a, ng_b) AS DOUBLE) / CAST(greatest(ng_a, ng_b) AS DOUBLE)) >= {t}"
        f" OR 1.0D - abs({la} - {lb}) / greatest({la}, {lb}) >= {t}"
    )
    # every group is one surface, so no group has intra pairs to keep
    pairs, _ = _bucket_pairs(banded, ["band", "key"], banded, profile, carry=("ng",), verify=prune)
    return pairs.selectExpr(
        "a", "b", f"{char_ngrams('a')} AS grams_a", f"{char_ngrams('b')} AS grams_b"
    )


def link_surfaces(
    surfaces: DataFrame,
    surface_col: str = "surface",
    threshold: float = 0.78,
    scorer: str = "set",
    profile: ScaleProfile = SAFE,
) -> DataFrame:
    """→ sameAs edges (a, b, score), a < b, score ≥ threshold.

    Two-tier design (scale lever): case-fold duplicates — by far the
    most common variant — are linked EXACTLY to their representative,
    the min surface of their lower() class, which one window tags on
    every surface (one cheap shuffle, no pairwise work); the quadratic
    LSH stage runs only on the representatives, scored by
    `score_set_cosine`. "set" is the only `scorer`."""
    if scorer != "set":
        raise ValueError(f"unknown scorer {scorer!r}")
    tagged = surfaces.selectExpr(f"`{surface_col}` AS surface").distinct().selectExpr(
        "surface", "min(surface) OVER (PARTITION BY lower(surface)) AS rep"
    )
    # exact tier: every surface ↔ its case-fold representative (rep < surface)
    exact = tagged.filter("surface != rep").selectExpr("rep AS a", "surface AS b", "1.0D AS score")

    # similarity tier on representatives only
    reps = tagged.filter("surface = rep").select("surface")
    pairs = candidate_pairs_minhash(reps, "surface", prune_threshold=threshold, profile=profile)
    scored = score_set_cosine(pairs)
    fuzzy = scored.filter(f"score >= CAST({float(threshold)!r} AS DOUBLE)").select("a", "b", "score")
    return exact.unionByName(fuzzy)
