"""One switch for every scale guard (the round-3 verdict's "scale
profile": a single object that flips all the skew/hot-bucket guards at
once, so call sites can't forget one).

The engine's quadratic hazards are all the same class — a banded-LSH
bucket self-join where one hot key (boilerplate band signature, empty
text hashing to simhash 0, duplicate/zero embedding vectors, stopword
shingles, a head-entity subject bucket) turns O(n) rows into C(n, 2)
pairs. `ScaleProfile` carries every guard knob, and `profile=` is the
only guard argument of the guarded operators:

    from kgforge.profile import SCALE
    minhash_lsh_candidates(df, profile=SCALE)
    simhash_near_dups(df, profile=SCALE)
    embedding_near_dups(emb, profile=SCALE)
    ngram_jaccard_pairs(df, profile=SCALE)
    candidate_pairs_minhash(surfaces, prune_threshold=t, profile=SCALE)

Two presets:

* `SAFE` = `ScaleProfile()` — only the guards that do NOT change
  result semantics: `max_bucket` with `oversize="join"` bounds
  per-task memory (no collect_list hub row can form) while producing
  the pair set of a plain "every pair that shares a bucket key"
  enumeration, entity linking's candidate pairs included. It is the
  default `profile` of every guarded operator
  (asserted by test_profile.test_safe_is_the_default_for_guarded_
  operators), and the contract oracles check it.
* `SCALE` — every guard on, including the semantics-changing ones
  (oversized buckets dropped as boilerplate, simhash-0 empty docs
  pre-dropped, corpus-relative shingle df cap). The crawl-scale
  posture.
"""

from __future__ import annotations

from dataclasses import dataclass, fields


@dataclass(frozen=True)
class ScaleProfile:
    #: cap on banded-LSH bucket membership, in documents, before pair
    #: generation (minhash / simhash / embedding near-dup self-joins and
    #: the entity-linking candidate buckets)
    max_bucket: int = 1024
    #: policy for buckets over `max_bucket`: "join" streams their pairs
    #: row-at-a-time (same pairs, bounded memory, still quadratic
    #: OUTPUT for that bucket); "drop" skips them (a bucket hotter than
    #: a reasonable cap carries boilerplate, not near-dup signal).
    oversize: str = "join"
    #: n-gram Jaccard: drop shingles shared by more than this FRACTION
    #: of the corpus as join keys (corpus-relative stopword guard;
    #: None keeps the operator's absolute max_df default).
    ngram_max_df_frac: float | None = None
    #: simhash: pre-drop documents whose signature is 0 (empty /
    #: whitespace-only text — ALL of them share every (chunk, 0) band
    #: key; their duplication is exact-dedup's job anyway).
    simhash_drop_zero: bool = False
    #: ignored: the bucketed triple write splits a hot subj_bucket by
    #: its bytes through Spark's REBALANCE (kgforge.io.catalog). Kept so
    #: `materialize_triples(salt_partitions=...)` callers still run.
    salt_partitions: int | None = None

    def __post_init__(self) -> None:
        if self.oversize not in ("join", "drop"):
            raise ValueError(f"unknown oversize policy {self.oversize!r}")


#: semantics-preserving guards only: bounded per-task memory with the
#: exact same output pair set (safe under hash-checked oracles); the
#: default `profile` of every guarded operator
SAFE = ScaleProfile()

#: every guard on — the 100-TB posture. max_bucket=1024 caps any
#: collect_list array at ~1k members, entity linking's band buckets
#: included; dropped buckets (oversize="drop") are boilerplate by
#: construction at this cap; shingles shared by >0.1% of the corpus
#: carry no near-dup signal; empty docs leave the simhash path
#: entirely; salt_partitions selects nothing.
SCALE = ScaleProfile(
    max_bucket=1024,
    oversize="drop",
    ngram_max_df_frac=0.001,
    simhash_drop_zero=True,
    salt_partitions=32,
)


def knob_names() -> list[str]:
    """Every guard knob the profile carries (test hook: asserts new
    knobs get added HERE, not as one-off keyword args)."""
    return [f.name for f in fields(ScaleProfile)]
