"""ScaleProfile: the one-switch guard config — `profile=` is the only
guard argument of every guarded operator, and the SCALE preset arms
every knob (the round-3 verdict's "each call site must remember"
failure mode)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kgforge.profile import SAFE, SCALE, ScaleProfile, knob_names
from kgforge.textops.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from kgforge.textops.similarity import embedding_near_dups
from kgforge.web.linking import candidate_pairs_minhash, link_surfaces

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _docs(spark, n=30, seed=3):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice(WORDS) for _ in range(25))) for i in range(n)
    ]
    rows += [(1000, rows[0][1]), (1001, rows[0][1])]  # exact clones
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scale_preset_arms_every_knob():
    """SCALE must arm EVERY guard the profile carries; a knob added to
    ScaleProfile without an armed SCALE value fails here (this is the
    'one switch flips all the guards' contract)."""
    armed = {
        "max_bucket": lambda v: v is not None,
        "oversize": lambda v: v == "drop",
        "ngram_max_df_frac": lambda v: v is not None,
        "simhash_drop_zero": lambda v: v is True,
        "salt_partitions": lambda v: v is not None and v > 1,
    }
    assert set(armed) == set(knob_names()), (
        "new ScaleProfile knob without an armed-value check: "
        f"{set(knob_names()) ^ set(armed)}"
    )
    for knob, check in armed.items():
        assert check(getattr(SCALE, knob)), f"SCALE does not arm {knob}"
    # SAFE is the field defaults, and only uses the semantics-preserving pair
    assert SAFE == ScaleProfile()
    assert SAFE.max_bucket is not None and SAFE.oversize == "join"
    assert SAFE.ngram_max_df_frac is None and SAFE.simhash_drop_zero is False


def test_invalid_oversize_rejected():
    with pytest.raises(ValueError, match="oversize"):
        ScaleProfile(oversize="explode")


def test_profile_overrides_minhash(spark):
    """The profile arms the guard: a tiny cap + drop keeps the planted
    mega-bucket out of the result."""
    mega = [(50000 + i, "same text every time") for i in range(200)]
    df = _docs(spark).unionByName(
        spark.createDataFrame(mega, "doc_id long, text string")
    )
    p = ScaleProfile(max_bucket=64, oversize="drop")
    out = {(r.a, r.b) for r in minhash_lsh_candidates(df, profile=p).collect()}
    assert not any(a >= 50000 or b >= 50000 for a, b in out)
    assert (0, 1000) in out


def test_profile_overrides_simhash(spark):
    """SCALE arms simhash's guards: the planted empty-doc shard pairs
    with nothing."""
    empties = [(50000 + i, " ") for i in range(500)]
    df = _docs(spark).unionByName(
        spark.createDataFrame(empties, "doc_id long, text string")
    )
    out = {
        (r.a, r.b)
        for r in simhash_near_dups(df, max_hamming=8, profile=SCALE).collect()
    }
    assert not any(a >= 50000 or b >= 50000 for a, b in out)
    assert (0, 1000) in out


def test_profile_overrides_ngram(spark):
    """The profile's corpus-relative shingle cap replaces the absolute
    max_df: with every doc sharing one boilerplate prefix, the common
    shingles stop being join keys."""
    rng = random.Random(9)
    common = "the cat sat"  # exactly one all-docs 3-shingle
    rows = [
        (i, f"{common} " + " ".join(rng.choice(WORDS) for _ in range(8)))
        for i in range(50)
    ]
    rows.append((5000, rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = ScaleProfile(ngram_max_df_frac=0.2)
    # clones share 9 shingles, 1 of them guarded out as a join key →
    # observed jaccard 8/(9+9-8) = 0.8 exactly
    out = {(r.a, r.b) for r in ngram_jaccard_pairs(df, threshold=0.75, profile=p).collect()}
    assert (0, 5000) in out


def test_profile_overrides_embedding(spark):
    """The profile arms the embedding guard: the planted pile of
    identical vectors pairs with nothing."""
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    rows.append((9000, [x + rng.gauss(0, 0.001) for x in rows[3][1]]))
    pile = [(70000 + i, [1.0] + [0.25] * 15) for i in range(500)]
    df = spark.createDataFrame(
        rows + pile, "vec_id long, embedding array<double>"
    )
    p = ScaleProfile(max_bucket=64, oversize="drop")
    out = {
        (r.a, r.b)
        for r in embedding_near_dups(df, threshold=0.95, profile=p).collect()
    }
    assert not any(a >= 70000 or b >= 70000 for a, b in out)
    assert (3, 9000) in out


def test_profile_tunes_linking_bucket_cap(spark):
    """link_surfaces pairs its band buckets under the profile's
    max_bucket and oversize: with a cap of 1 every bucket is oversized,
    so "drop" links only the exact case-fold tier, and "join" streams
    every bucket through the self-join and gives SAFE's edges."""
    surfaces = spark.createDataFrame(
        [("Alpha Corp",), ("alpha corp",), ("Alpha Corpn",), ("Beta LLC",)],
        "surface string",
    )

    def edges(profile):
        return {tuple(r) for r in link_surfaces(surfaces, threshold=0.5, profile=profile).collect()}

    safe = edges(SAFE)
    assert any(score < 1.0 for _a, _b, score in safe)  # fuzzy tier active
    dropped = edges(ScaleProfile(max_bucket=1, oversize="drop"))
    assert dropped and dropped == {e for e in safe if e[2] == 1.0}  # exact tier only
    assert edges(ScaleProfile(max_bucket=1, oversize="join")) == safe


def test_safe_is_the_default_for_guarded_operators():
    """Round-4 verdict item 6: calling a guarded operator WITHOUT a
    profile runs under SAFE (per-task memory bounded, pairs unchanged),
    and `profile` is its only guard argument. Asserted on the
    signatures so a new operator, a regressed default or a guard
    keyword added back fails here."""
    import inspect

    for fn in (
        minhash_lsh_candidates,
        simhash_near_dups,
        ngram_jaccard_pairs,
        embedding_near_dups,
        candidate_pairs_minhash,
    ):
        params = inspect.signature(fn).parameters
        assert params["profile"].default is SAFE, fn.__name__
        assert not {"max_bucket", "oversize", "drop_zero", "max_df_frac"} & set(params), fn.__name__


def test_default_guard_is_output_identical(spark):
    """The SAFE default does not change any result: on a planted banded
    table with a group larger than SAFE's cap, the hot buckets stream
    through the self-join, and `_bucket_pairs` still emits exactly the
    pairs of a Python enumeration of the rep pairs that share a key."""
    from tests.test_textops import _bucket_output, _bucket_reference, _planted_buckets

    banded, groups, rows, gsize = _planted_buckets(spark, hot_gsize=SAFE.max_bucket + 1)
    want = _bucket_reference(rows, gsize, SAFE)
    assert _bucket_output(banded, groups, SAFE) == want
    assert 40 in want[1]  # the oversized group keeps its intra pairs
