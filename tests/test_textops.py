"""Training-data ops: dedup families, similarity search, text analysis,
multimodal plumbing — correctness on planted fixtures."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from kgforge.profile import SAFE, ScaleProfile
from kgforge.textops.analysis import fingerprint, lang_id, quality_score, token_count
from kgforge.textops.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    tokenized,
)
from kgforge.textops.multimodal import (
    attach_binary_payload,
    decode_stub,
    payload_metadata,
)
from kgforge.textops.similarity import brute_force_topk, embedding_near_dups

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi".split()


def _docs(spark, n=40, seed=42, plant_near_dups=True):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 40)))
        rows.append((i, text))
    # exact dups
    rows.append((1000, rows[0][1]))
    rows.append((1001, rows[0][1]))
    if plant_near_dups:
        # near dup: change one word near the end
        base = rows[1][1].split()
        base[-1] = "omega"
        rows.append((2000, " ".join(base)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark):
    df = _docs(spark)
    out = dedup_exact(df)
    row = out.filter(F.col("dup_count") == 3).collect()
    assert len(row) == 1 and row[0].keep_id == 0
    assert out.agg(F.sum("dup_count")).first()[0] == df.count()


def test_minhash_candidates_find_planted(spark):
    df = _docs(spark)
    pairs = {(r.a, r.b) for r in minhash_lsh_candidates(df).collect()}
    assert (0, 1000) in pairs and (0, 1001) in pairs and (1000, 1001) in pairs
    assert (1, 2000) in pairs  # near dup shares most shingles


def test_minhash_max_bucket_drop_planted_mega_bucket(spark):
    """A planted 10k-member bucket (identical texts → identical band
    signatures) with oversize='drop': the saturated bucket is excluded
    BEFORE any membership array is collected, normal near-dups are
    unaffected."""
    mega_text = "spam boilerplate footer navigation copyright notice all rights"
    mega = [(100000 + i, mega_text) for i in range(10000)]
    df = _docs(spark).unionByName(
        spark.createDataFrame(mega, "doc_id long, text string")
    )
    out = minhash_lsh_candidates(df, profile=ScaleProfile(max_bucket=64, oversize="drop"))
    pairs = {(r.a, r.b) for r in out.collect()}
    # the mega bucket contributed nothing
    assert not any(a >= 100000 or b >= 100000 for a, b in pairs)
    # planted exact clones from the normal corpus still found
    assert (0, 1000) in pairs and (0, 1001) in pairs


def test_ngram_jaccard(spark):
    df = _docs(spark)
    out = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert out[(0, 1000)] == 1.0 and out[(1000, 1001)] == 1.0
    assert 0.5 <= out[(1, 2000)] < 1.0
    # no false positives between unrelated random docs at 0.5
    assert all(a in (0, 1, 1000, 1001) or b in (1000, 1001, 2000) for (a, b) in out)


def test_ngram_jaccard_skew_guard(spark):
    """Stopword-heavy corpus: a shingle shared by every doc is dropped
    by the fractional guard, so candidates stay bounded and planted
    near-dups are still found through their rare shingles."""
    import random as _r

    rng = _r.Random(11)
    common = "the cat sat"  # one 3-shingle shared by ALL docs
    rows = []
    for i in range(60):
        rare = " ".join(rng.choice(WORDS) for _ in range(8))
        rows.append((i, f"{common} {rare}"))
    rows.append((5000, rows[0][1]))  # planted exact dup
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = ngram_jaccard_pairs(df, threshold=0.8, profile=ScaleProfile(ngram_max_df_frac=0.2))
    pairs = {(r.a, r.b) for r in out.collect()}
    assert (0, 5000) in pairs  # found via its rare shingles

    # guard bound: with frac=0.2 → max_df=12, no shingle may fan out
    # beyond C(12,2)=66 pairs; the all-docs common shingle would have
    # produced C(61,2)=1830 candidate pairs on its own
    from kgforge.textops.dedup import word_shingles

    sh = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col("text"), 3))).alias("s"),
    )
    kept = sh.groupBy("s").count().filter(F.col("count") <= 12)
    cand_bound = kept.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2)
    ).first()[0]
    assert cand_bound is not None and cand_bound <= 66 * kept.count()


def _simhash_model(text: str) -> int:
    """Single-node model of the 60-bit md5 SimHash (same definition as
    kgforge.textops.dedup.simhash, independently written)."""
    import hashlib

    acc = [0] * 60
    for tok in text.split():
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        for bit in range(60):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    return sum(1 << b for b in range(60) if acc[b] > 0)


def test_simhash_properties(spark):
    df = _docs(spark)
    out = {(r.a, r.b): r.hamming for r in simhash_near_dups(df, max_hamming=8).collect()}
    assert out[(0, 1000)] == 0 and out[(1000, 1001)] == 0
    assert (1, 2000) in out
    # distributed JVM signature agrees with the single-node model
    from kgforge.textops.dedup import simhash

    sigs = {r.id: r.simhash for r in simhash(df).collect()}
    texts = {r.doc_id: r.text for r in df.collect()}
    for did in (0, 1, 1000, 2000):
        assert sigs[did] == _simhash_model(texts[did]), did
    # empty doc hashes to 0
    empty = spark.createDataFrame([(1, " ")], "doc_id long, text string")
    assert simhash(empty).first().simhash == 0


def test_simhash_guard_drop_and_drop_zero(spark):
    """Planted empty-doc shard: every empty doc hashes to simhash 0 and
    shares all four (chunk, 0) keys. Both guards neutralize it —
    max_bucket+'drop' censuses the hot buckets away, simhash_drop_zero
    removes the docs before banding — while real near-dups survive."""
    empties = [(50000 + i, "   ") for i in range(3000)]
    df = _docs(spark).unionByName(
        spark.createDataFrame(empties, "doc_id long, text string")
    )
    for profile in (
        ScaleProfile(max_bucket=64, oversize="drop"),
        ScaleProfile(simhash_drop_zero=True),
    ):
        pairs = {
            (r.a, r.b)
            for r in simhash_near_dups(df, max_hamming=8, profile=profile).collect()
        }
        assert not any(a >= 50000 or b >= 50000 for a, b in pairs), profile
        assert (0, 1000) in pairs and (1000, 1001) in pairs, profile


def _embeddings(spark, n=200, dim=16, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # planted near-duplicate of vector 3 (cosine ≈ 1.0)
    v = rows[3][1]
    rows.append((9000, [x + rng.gauss(0, 0.001) for x in v]))
    # planted NEAR-dup of vector 5 at cosine ≈ 0.96-0.98 — the pair a
    # single-table blocker loses when it straddles one hyperplane
    w = rows[5][1]
    rows.append((9001, [x + rng.gauss(0, 0.25) for x in w]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark):
    df = _embeddings(spark)
    q = df.filter(F.col("vec_id") == 3).first().embedding
    exact = [r.vec_id for r in brute_force_topk(df, q, k=10).collect()]
    assert exact[0] in (3, 9000) and set(exact[:2]) == {3, 9000}


def test_embedding_near_dups(spark):
    df = _embeddings(spark)
    out = {(r.a, r.b): r.score for r in embedding_near_dups(df, threshold=0.95).collect()}
    assert (3, 9000) in out and out[(3, 9000)] > 0.999
    # the ~0.96-cosine planted pair: found via OR-of-tables (a single
    # 10-plane table misses pairs straddling one hyperplane)
    assert (5, 9001) in out and 0.9 < out[(5, 9001)] < 1.0
    assert all(s >= 0.95 for s in out.values())


def test_embedding_guard_drop_planted_pile(spark):
    """A planted pile of identical vectors (boilerplate-page
    embeddings) saturates ONE bucket per table; with 'drop' the census
    excludes those buckets before any pair generation, and the normal
    planted near-dups are unaffected."""
    df = _embeddings(spark)
    pile_vec = [1.0] + [0.25] * 15
    pile = [(70000 + i, pile_vec) for i in range(3000)]
    big = df.unionByName(
        spark.createDataFrame(pile, "vec_id long, embedding array<double>")
    )
    out = embedding_near_dups(
        big, threshold=0.95, profile=ScaleProfile(max_bucket=64, oversize="drop")
    )
    pairs = {(r.a, r.b) for r in out.collect()}
    assert not any(a >= 70000 or b >= 70000 for a, b in pairs)
    assert (3, 9000) in pairs and (5, 9001) in pairs


# The three banded near-dup operators share one hot-bucket guard
# (kgforge.textops.dedup._bucket_pairs); each case is one operator's
# fixture, extra arguments and compared output columns.
_GUARD_CASES = {
    "minhash": (_docs, minhash_lsh_candidates, {}, ("a", "b")),
    "simhash": (_docs, simhash_near_dups, {"max_hamming": 8}, ("a", "b", "hamming")),
    "embedding": (_embeddings, embedding_near_dups, {"threshold": 0.95}, ("a", "b")),
}


def _guard_pairs(df, op, profile=SAFE):
    _, fn, kwargs, cols = _GUARD_CASES[op]
    return {tuple(r[c] for c in cols) for r in fn(df, **kwargs, profile=profile).collect()}


@pytest.mark.parametrize("op", list(_GUARD_CASES))
def test_guard_join_parity(spark, op):
    """oversize='join' routes saturated buckets through the streaming
    self-join — the pair set is identical to the default even when
    max_bucket is small enough to divert nearly every bucket."""
    df = _GUARD_CASES[op][0](spark)
    assert _guard_pairs(df, op, ScaleProfile(max_bucket=2)) == _guard_pairs(df, op)


def _planted_buckets(spark, hot_gsize=9):
    """A planted banded table for `_bucket_pairs`: 41 groups with
    gsize ≥ 1 in three bands of 20 keys each, one hot key shared by
    every other group, and group 40 of `hot_gsize` docs, so every
    bucket it is in holds more than `hot_gsize` docs. Returns
    (banded, groups, rows, gsize)."""
    rng = random.Random(17)
    gsize = {g: rng.choice([1, 1, 2, 3]) for g in range(40)}
    gsize[40] = hot_gsize
    rows = [(g, band, f"k{rng.randrange(20)}") for g in gsize for band in range(3)]
    rows += [(g, 3, "hot") for g in range(0, 40, 2)]  # Σ gsize ≫ the small caps
    banded = spark.createDataFrame(
        [(g, gsize[g], band, key) for g, band, key in rows],
        "gid long, gsize long, band int, key string",
    )
    groups = spark.createDataFrame(sorted(gsize.items()), "gid long, gsize long")
    return banded, groups, rows, gsize


def _bucket_reference(rows, gsize, profile):
    """Python enumeration of `_bucket_pairs`' (rep, intra) output: the
    rep pairs that share a bucket key, and the multi-member groups.
    Under "drop", buckets of more than `max_bucket` docs are excluded
    and a group keeps its intra pairs only while it still has a
    surviving bucket."""
    from collections import defaultdict

    members = defaultdict(set)
    for g, band, key in rows:
        members[(band, key)].add(g)
    kept = [
        m for m in members.values()
        if profile.oversize == "join" or sum(gsize[g] for g in m) <= profile.max_bucket
    ]
    return (
        sorted({(a, b) for m in kept for a in m for b in m if a < b}),
        sorted(g for g, n in gsize.items() if n >= 2 and any(g in m for m in kept)),
    )


def _bucket_output(banded, groups, profile):
    from kgforge.textops.dedup import _bucket_pairs

    rep, intra = _bucket_pairs(banded, ["band", "key"], groups, profile)
    return sorted(tuple(r) for r in rep.collect()), sorted(r.gid for r in intra.collect())


def test_unguarded_matches_guarded(spark):
    """The guarded pair generation under "join" emits the unguarded
    pair set — a Python enumeration of the rep pairs that share a
    bucket key — under SAFE and under a cap of 2, where every
    multi-doc bucket streams through the self-join."""
    banded, groups, rows, gsize = _planted_buckets(spark)
    for profile in (SAFE, ScaleProfile(max_bucket=2)):
        assert _bucket_output(banded, groups, profile) == _bucket_reference(
            rows, gsize, profile
        ), profile


def test_bucket_pairs_brute_force(spark):
    """`_bucket_pairs` under "drop" equals a Python enumeration in which
    oversized buckets are excluded and a group keeps its intra pairs
    only while it still has a surviving bucket."""
    banded, groups, rows, gsize = _planted_buckets(spark)
    drop = ScaleProfile(max_bucket=8, oversize="drop")
    want = _bucket_reference(rows, gsize, drop)
    assert _bucket_output(banded, groups, drop) == want
    # non-vacuous: "drop" loses the hot bucket's pairs and group 40's intra pairs
    full = _bucket_reference(rows, gsize, SAFE)
    assert want[0] and set(want[0]) < set(full[0])
    assert 40 in full[1] and 40 not in want[1]


# Planted hot buckets that complete in a memory-capped JVM with the
# census guard on (oversize='drop'), while the real near-dup pair
# elsewhere is still emitted. Fresh subprocess because driver memory
# is fixed at JVM start.
_CAPPED_SCRIPTS = {
    # 10k-member planted bucket: the unbounded collect_list formulation
    # would build the C(10k,2) ≈ 5·10⁷-struct pair array inside ONE row
    # — >1.5 GB in a single task
    "minhash": """
from kgforge.textops.dedup import minhash_lsh_candidates
rows = [(i, "spam boilerplate footer navigation copyright notice") for i in range(10000)]
rows += [(20000, "unique alpha beta gamma delta epsilon zeta eta theta"),
         (20001, "unique alpha beta gamma delta epsilon zeta eta theta")]
df = spark.createDataFrame(rows, "doc_id long, text string")
out = minhash_lsh_candidates(df, profile=ScaleProfile(max_bucket=64, oversize="drop")).collect()
pairs = {(r.a, r.b) for r in out}
assert pairs == {(20000, 20001)}, pairs
""",
    # 10⁵ planted empty docs (the hot-chunk corpus: C(10⁵,2) ≈ 5·10⁹
    # garbage pairs unguarded)
    "simhash": """
from kgforge.textops.dedup import simhash_near_dups
rows = [(i, "") for i in range(100000)]
rows += [(200000, "unique alpha beta gamma delta epsilon zeta eta theta"),
         (200001, "unique alpha beta gamma delta epsilon zeta eta theta")]
df = spark.createDataFrame(rows, "doc_id long, text string")
out = simhash_near_dups(df, profile=ScaleProfile(max_bucket=64, oversize="drop")).collect()
pairs = {(r.a, r.b) for r in out}
assert pairs == {(200000, 200001)}, sorted(pairs)[:10]
""",
    # 20k duplicate vectors (C(20k,2) ≈ 2·10⁸ pairs unguarded)
    "embedding": """
from kgforge.textops.similarity import embedding_near_dups
pile = [(i, [1.0, 0.5, -0.25, 0.125] * 4) for i in range(20000)]
pile += [(50000, [float(j) for j in range(16)]),
         (50001, [float(j) + 0.001 for j in range(16)])]
df = spark.createDataFrame(pile, "vec_id long, embedding array<double>")
out = embedding_near_dups(df, threshold=0.999, profile=ScaleProfile(max_bucket=64, oversize="drop")).collect()
pairs = {(r.a, r.b) for r in out}
assert pairs == {(50000, 50001)}, sorted(pairs)[:10]
""",
}


@pytest.mark.parametrize("op", list(_CAPPED_SCRIPTS))
def test_guard_capped_memory(op):
    import os
    import subprocess
    import sys

    script = (
        """
from kgforge.profile import ScaleProfile
from kgforge.session import get_spark
spark = get_spark(app_name="capped", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "700m"})
"""
        + _CAPPED_SCRIPTS[op]
        + """
print("CAPPED_OK")
spark.stop()
"""
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "CAPPED_OK" in proc.stdout


def test_ann_index_probe_prunes_scan(spark, tmp_path):
    import contextlib
    import io

    from kgforge.textops.similarity import ann_index_topk, build_ann_index

    df = _embeddings(spark)
    q = df.filter(F.col("vec_id") == 3).first().embedding
    idx = str(tmp_path / "ann_index")
    # explicit full-granularity dirs to exercise the dir-level pruning
    # path (auto-sizing would collapse a 200-vector fixture to one dir)
    build_ann_index(df, idx, partition_bits=8)

    out = ann_index_topk(spark, idx, q, k=10)
    exact = [r.vec_id for r in brute_force_topk(df, q, k=10).collect()]
    approx = [r.vec_id for r in out.collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, f"index recall@10={recall}"

    # the probe must prune AT THE SCAN: dir-level on the bucket_p
    # partition column, row-group-level on the pushed bucket isin
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "bucket_p" in seg, f"bucket_p not in partition filters: {seg}"
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "bucket" in pushed, f"bucket not pushed: {pushed}"

    # auto-sized index (few dirs at this scale) returns the same result
    idx2 = str(tmp_path / "ann_index_auto")
    build_ann_index(df, idx2)
    approx2 = [r.vec_id for r in ann_index_topk(spark, idx2, q, k=10).collect()]
    assert approx2 == approx


def test_ann_index_manifest_guards(spark, tmp_path):
    """The index manifest pins build params + data fingerprint:
    mismatched probe params and stale fingerprints raise instead of
    silently returning wrong neighbors."""
    import pytest as _pytest

    from kgforge.textops.similarity import (
        ann_index_topk,
        build_ann_index,
        dataset_fingerprint,
        read_index_manifest,
    )

    df = _embeddings(spark)
    q = df.filter(F.col("vec_id") == 3).first().embedding
    idx = str(tmp_path / "ann_guarded")
    fp = dataset_fingerprint(df)
    build_ann_index(df, idx, n_planes=8, n_tables=4, seed=42, fingerprint=fp)

    m = read_index_manifest(spark, idx)
    assert m["n_planes"] == 8 and m["fingerprint"] == fp

    # params read from the manifest == explicit matching params
    a = [r.vec_id for r in ann_index_topk(spark, idx, q, k=5).collect()]
    b = [
        r.vec_id
        for r in ann_index_topk(spark, idx, q, k=5, n_planes=8, seed=42).collect()
    ]
    assert a == b

    with _pytest.raises(ValueError, match="n_planes=8"):
        ann_index_topk(spark, idx, q, k=5, n_planes=12)
    with _pytest.raises(ValueError, match="seed=42"):
        ann_index_topk(spark, idx, q, k=5, seed=7)

    # stale index: same path, regenerated (different) data
    df2 = _embeddings(spark, seed=99)
    fp2 = dataset_fingerprint(df2)
    assert fp2 != fp
    with _pytest.raises(ValueError, match="stale"):
        ann_index_topk(spark, idx, q, k=5, expected_fingerprint=fp2)

    # manifest-less directory refuses to serve
    bare = str(tmp_path / "ann_bare")
    spark.read.parquet(idx).write.parquet(bare)
    with _pytest.raises(FileNotFoundError):
        ann_index_topk(spark, bare, q, k=5)


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house for now"),
            (2, "el perro de la casa que los gatos una vez"),
            (3, "der hund und die katze ist nicht ein tier mit"),
            (4, "zzz qqq www"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r.lang_guess for r in lang_id(df).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "de"
    assert got[4] == "und"
    q = {r.id: r for r in quality_score(df).collect()}
    assert q[1].quality > q[4].quality
    assert 0.0 <= q[5].quality <= 1.0


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "a b  c"), (2, "A B C"), (3, "a b c")], "doc_id long, text string"
    )
    tc = {r.id: r.n_tokens for r in token_count(df).collect()}
    assert tc == {1: 3, 2: 3, 3: 3}
    fp = {r.id: r.fp for r in fingerprint(df).collect()}
    assert fp[1] == fp[2] == fp[3]  # whitespace+case normalized


def test_parse_image_header_magic_bytes(spark):
    """Real byte fixtures: PNG/GIF/BMP headers parsed to format+dims
    with pure byte arithmetic; JPEG detected by magic only."""
    import struct

    from kgforge.textops.multimodal import parse_image_header

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    bmp = (
        b"BM" + struct.pack("<IHHI", 1000, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 800, -600, 1, 24)  # negative = top-down
    )
    jpeg = b"\xff\xd8\xff\xe0\x00\x10JFIF"
    junk = b"not an image at all"
    rows = [(1, png), (2, gif), (3, bmp), (4, jpeg), (5, junk)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.format, r.width, r.height) for r in parse_image_header(df).collect()}
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("gif", 320, 200)
    assert got[3] == ("bmp", 800, 600)  # abs() of top-down height
    assert got[4] == ("jpeg", None, None)
    assert got[5] == (None, None, None)


def test_parse_audio_header_magic_bytes(spark):
    """Real byte fixtures: canonical WAV fully parsed (incl. duration
    from data-size/byte-rate), FLAC STREAMINFO bitfields, OGG/MP3
    magic-only, junk -> all NULL."""
    import struct

    from kgforge.textops.multimodal import parse_audio_header

    def wav(ch, sr, bits, dsize):
        byte_rate = sr * ch * bits // 8
        return (
            b"RIFF" + struct.pack("<I", 36 + dsize) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, byte_rate,
                                    ch * bits // 8, bits)
            + b"data" + struct.pack("<I", dsize)
        )

    # FLAC STREAMINFO: 44100 Hz, 2ch, 16bps, 441000 samples (10 s);
    # bitfields packed per the spec: 20-bit sr | 3-bit ch-1 |
    # 5-bit bps-1 | 36-bit total samples
    sr, ch, bits, samples = 44100, 2, 16, 441000
    b18 = (sr >> 12) & 0xFF
    b19 = (sr >> 4) & 0xFF
    b20 = ((sr & 0xF) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)
    b21 = (((bits - 1) & 0xF) << 4) | ((samples >> 32) & 0xF)
    flac = (
        b"fLaC" + b"\x00\x00\x00\x22"                 # STREAMINFO block header
        + struct.pack(">HH", 4096, 4096) + b"\x00" * 6  # blocksizes + framesizes
        + bytes([b18, b19, b20, b21])
        + struct.pack(">I", samples & 0xFFFFFFFF)
    )
    ogg = b"OggS\x00\x02" + b"\x00" * 20
    mp3 = b"ID3\x04\x00" + b"\x00" * 10
    mp3_sync = b"\xff\xfb\x90\x00" + b"\x00" * 10
    junk = b"definitely not audio"

    rows = [
        (1, wav(2, 44100, 16, 44100 * 4)),   # 1 s stereo 16-bit
        (2, wav(1, 8000, 8, 4000)),          # 0.5 s mono 8-bit
        (3, flac), (4, ogg), (5, mp3), (6, mp3_sync), (7, junk),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {
        r.id: (r.format, r.channels, r.sample_rate, r.bits_per_sample, r.duration_ms)
        for r in parse_audio_header(df).collect()
    }
    assert got[1] == ("wav", 2, 44100, 16, 1000)
    assert got[2] == ("wav", 1, 8000, 8, 500)
    assert got[3] == ("flac", 2, 44100, 16, 10000)
    assert got[4] == ("ogg", None, None, None, None)
    assert got[5] == ("mp3", None, None, None, None)
    assert got[6] == ("mp3", None, None, None, None)
    assert got[7] == (None, None, None, None, None)


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "binary payload test")], "doc_id long, text string"
    )
    payloads = attach_binary_payload(docs)
    meta = {r.id: r for r in payload_metadata(payloads).collect()}
    assert meta[1].n_bytes == len(b"hello world")
    assert meta[1].magic_hex == "68656C6C".upper()  # 'hell'
    fake = {r.id: r for r in decode_stub(payloads, mode="fake").collect()}
    assert fake[1].width >= 64 and len(fake[1].feature) == 8
    norm = sum(x * x for x in fake[1].feature) ** 0.5
    assert abs(norm - 1.0) < 1e-5
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_stub(payloads, mode="raise").collect()


def test_parse_video_header_magic_bytes(spark):
    """Container detection from fixed-position bytes: MP4 major brand,
    EBML (webm/mkv), AVI; junk -> NULL."""
    import struct

    from kgforge.textops.multimodal import parse_video_header

    mp4 = struct.pack(">I", 32) + b"ftypisom" + b"\x00\x00\x02\x00" + b"isomiso2"
    m4v = struct.pack(">I", 20) + b"ftypM4V " + b"\x00" * 8
    ebml = b"\x1a\x45\xdf\xa3" + b"\x01\x00\x00\x00" + b"\x00" * 8
    avi = b"RIFF" + struct.pack("<I", 1000) + b"AVI LIST"
    junk = b"movie night"
    rows = [(1, mp4), (2, m4v), (3, ebml), (4, avi), (5, junk)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.format, r.major_brand) for r in parse_video_header(df).collect()}
    assert got[1] == ("mp4", "isom")
    assert got[2] == ("mp4", "M4V")
    assert got[3] == ("ebml", None)
    assert got[4] == ("avi", None)
    assert got[5] == (None, None)


def test_ivf_index_build_probe_recall_and_pruning(spark, tmp_path):
    import contextlib
    import io

    from kgforge.textops.similarity import (
        build_ivf_index,
        ivf_index_topk,
        read_ivf_manifest,
        train_ivf_centroids,
    )

    df = _embeddings(spark)
    q = df.filter(F.col("vec_id") == 3).first().embedding
    idx = str(tmp_path / "ivf_index")
    cents = build_ivf_index(df, idx, k=8, seed=42)
    assert len(cents) == 8 and len(cents[0]) == 16

    # deterministic training
    again = train_ivf_centroids(df, k=8, seed=42)
    assert again == cents

    out = ivf_index_topk(spark, idx, q, k=10, nprobe=4)
    exact = [r.vec_id for r in brute_force_topk(df, q, k=10).collect()]
    approx = [r.vec_id for r in out.collect()]
    # the query's own cell is always probed first: its clone must lead
    assert approx[0] in (3, 9000) and set(approx[:2]) == {3, 9000}
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.6, f"ivf recall@10={recall} (nprobe=4/8)"

    # full-probe == brute force exactly (sanity of the candidate set)
    full = [r.vec_id for r in ivf_index_topk(spark, idx, q, k=10, nprobe=8).collect()]
    assert full == exact

    # the probe must prune AT THE SCAN (list_id is the partition col)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue()
    seg = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "list_id" in seg, f"list_id not in partition filters: {seg}"

    # manifest guards
    m = read_ivf_manifest(spark, idx)
    assert m["k"] == 8 and m["dim"] == 16
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        ivf_index_topk(spark, str(tmp_path / "nope"), q, k=5)
    from kgforge.textops.similarity import dataset_fingerprint

    with _pytest.raises(ValueError, match="stale"):
        ivf_index_topk(
            spark, idx, q, k=5,
            expected_fingerprint=dataset_fingerprint(_embeddings(spark, seed=99)),
        )


def test_token_count_bpe_mode(spark):
    """The BPE-ish pretokenizer diverges from whitespace on
    punctuation/code-heavy text (the synthetic documents corpus is
    pure space-separated words, where both coincide — hence the twin
    contract hashes)."""
    from kgforge.textops.analysis import token_count

    df = spark.createDataFrame(
        [
            (1, "hello world"),                  # ws 2, bpe 2
            (2, "don't panic!"),                 # ws 2, bpe: don ' t panic ! = 5
            (3, "f(x)=x**2;  // comment"),       # ws 3, bpe: f ( x ) = x * * 2 ; / / comment = 13
            (4, "abc123 déjà_vu"),               # ws 2, bpe: abc 123 déjà _ vu = 5
            (5, ""),                             # ws 1 (split quirk), bpe 0
        ],
        "doc_id long, text string",
    )
    ws = {r.id: r.n_tokens for r in token_count(df).collect()}
    bpe = {r.id: r.n_tokens for r in token_count(df, tokenizer="bpe").collect()}
    assert ws == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}
    assert bpe == {1: 2, 2: 5, 3: 13, 4: 5, 5: 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown tokenizer"):
        token_count(df, tokenizer="wordpiece")


def test_simhash_packed_lanes_long_doc(spark):
    """The packed-lane bit counters (30×2-lane sums) must agree with
    the single-node ±1 model when per-bit counts run deep — a 5,000
    token document exercises lane accumulation far past small-doc
    counts while staying bit-identical."""
    import random as _r

    from kgforge.textops.dedup import simhash

    rng = _r.Random(7)
    vocab = [f"tok{i}" for i in range(40)]
    long_text = " ".join(rng.choice(vocab) for _ in range(5000))
    df = spark.createDataFrame(
        [(0, long_text), (1, "one two three")], "doc_id long, text string"
    )
    sigs = {r.id: r.simhash for r in simhash(df).collect()}
    assert sigs[0] == _simhash_model(long_text)
    assert sigs[1] == _simhash_model("one two three")


def test_ngram_bitmap_prefilter_lossless(spark):
    """The tier-0 bitmap reject (popcount of OR'd 256-bit rare-set
    bitmaps as a union lower bound) must lose nothing even when it is
    at its loosest and its tightest:

    * docs with ~300 distinct shingles SATURATE the 256-bit bitmap
      (heavy hash collisions) — the union bound goes slack and every
      candidate must fall through to the exact verify, never be
      wrongly rejected;
    * mid-similarity pairs sit near the threshold on both sides.

    The whole output is compared against an independently computed
    brute-force jaccard over the exact shingle-set model."""
    import random as _r

    rng = _r.Random(13)
    vocab = [f"w{i}" for i in range(400)]
    texts = {}
    docid = 0
    base = [rng.choice(vocab) for _ in range(300)]
    for _d in range(10):
        texts[docid] = [rng.choice(vocab) for _ in range(300)]
        docid += 1
    texts[100] = list(base)
    # graded mutants of doc 100: jaccard from ~0.97 down past the
    # threshold, so pairs land on both sides of 0.3
    for k in (3, 30, 45, 60, 90, 180, 260):
        toks = list(base)
        for j in range(k):
            toks[(j * 7) % 300] = rng.choice(vocab)
        docid += 1
        texts[100 + docid] = toks
    texts[999] = list(base)  # exact clone -> intra-group path
    # tiny docs whose single shared shingle the bitmap CAN reject
    texts[7000] = ["a", "b", "c", "d", "e", "f", "g", "h"]
    texts[7001] = ["a", "b", "c", "z1", "z2", "z3", "z4", "z5"]
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in texts.items()], "doc_id long, text string"
    )
    out = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, shingle_k=3, threshold=0.3, max_df=10**6
        ).collect()
    }

    def sh(toks):
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh(t) for i, t in texts.items()}
    expect = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            if inter < 1:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.3:
                expect[(a, b)] = j
    assert out == expect
    # the fixture must actually exercise both regimes
    assert any(j < 0.55 for j in expect.values())  # near-threshold pair kept
    assert (7000, 7001) not in out  # sub-threshold pair rejected


def test_spread_small_scan(spark, tmp_path, monkeypatch):
    """_spread_small_scan: a small file scan (one file or many) is
    spread to the session's shuffle parallelism; an input of at least
    shuffle.partitions x maxPartitionBytes and non-file sources pass
    through untouched; triple output is unaffected either way. The size
    comes from plan statistics, so no driver-side stat() is involved."""
    import pandas as pd

    from kgforge.session import local_df
    from kgforge.triples.emit import _spread_small_scan

    p = str(tmp_path / "small.parquet")
    pd.DataFrame({"k": range(1000), "v": [f"x{i}" for i in range(1000)]}).to_parquet(p)
    df = spark.read.parquet(p)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spread = _spread_small_scan(df)
    assert spread.rdd.getNumPartitions() == n_part
    assert sorted(r.k for r in spread.collect()) == list(range(1000))

    many = str(tmp_path / "many")
    spark.range(2000).repartition(200).write.parquet(many)
    assert len([f for f in os.listdir(many) if f.endswith(".parquet")]) == 200
    assert _spread_small_scan(spark.read.parquet(many)).rdd.getNumPartitions() == n_part

    def no_stat(path):
        raise OSError(f"stat of {path} is not allowed")

    with monkeypatch.context() as m:
        m.setattr(os.path, "getsize", no_stat)
        assert _spread_small_scan(df).rdd.getNumPartitions() == n_part

    for local in (
        spark.createDataFrame([(1, "a")], "k long, v string"),
        local_df(spark, [(1, "a")], "k long, v string"),
    ):
        assert _spread_small_scan(local) is local

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        # the file (~10 KB) is >= n_part x 1 KB: the scan already splits
        assert os.path.getsize(p) >= n_part * 1024
        spark.conf.set(key, "1k")
        assert _spread_small_scan(df) is df
        # a Spark size string with a two-letter unit parses (JVM
        # byte-string parser) instead of crashing the guard
        spark.conf.set(key, "128MB")
        assert _spread_small_scan(df).rdd.getNumPartitions() == n_part
    finally:
        spark.conf.set(key, old)


def test_tokenized_spreads_to_session_shuffle_width(spark):
    """`tokenized` spreads to the shuffle width the session really
    uses, also on a session that never set the key: Spark's own
    default then, not a fallback of kgforge's."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        width = int(spark.conf.get(key))
        assert width != int(old)  # the session default, not the fixture's
        plan = tokenized(_docs(spark))._jdf.queryExecution().sparkPlan()
        assert plan.outputPartitioning().numPartitions() == width
    finally:
        spark.conf.set(key, old)


def test_spread_skips_only_single_partition_input(spark, monkeypatch):
    """`_spread` returns an input that is one partition by construction
    (a plan over coalesce(1)) unspread, and spreads anything else, a
    persisted input that AQE coalesced to one partition included. The
    SAFE minhash operator plans exactly the round-robin exchanges of an
    unconditional repartition, over a coalesce(1) input too, so the
    dedup operators keep their spreads."""
    from kgforge.textops import dedup

    def round_robins(df):
        return df._jdf.queryExecution().executedPlan().toString().count("RoundRobinPartitioning")

    one = _docs(spark).coalesce(1).groupBy("text").count()
    assert dedup._spread(one, 4) is one
    assert round_robins(dedup._spread(_docs(spark).groupBy("text").count(), 4)) == 1
    # a persisted plan that AQE coalesced to one partition still reports
    # its coalesced hash partitioning, not SinglePartition: a cached
    # surface table above LOCAL_SURFACES_MAX keeps its spreads
    cached = _docs(spark).groupBy("text").count().persist()
    try:
        cached.count()
        part = cached._jdf.queryExecution().sparkPlan().outputPartitioning().toString()
        assert part.startswith("coalescedhashpartitioning"), part
        assert round_robins(dedup._spread(cached, 4)) == 1
    finally:
        cached.unpersist()
    for docs in (_docs(spark), _docs(spark).coalesce(1)):
        got = round_robins(minhash_lsh_candidates(docs, profile=SAFE))
        with monkeypatch.context() as m:
            m.setattr(dedup, "_spread", lambda df, *args: df.repartition(*args))
            want = round_robins(minhash_lsh_candidates(docs, profile=SAFE))
        assert got == want >= 2


def test_vector_dim_skips_null_first_row(spark, tmp_path):
    """The dimension probe reads the first NON-NULL vector; a table
    with no vector keeps each caller's empty-table behaviour."""
    from kgforge.textops.similarity import build_ann_index, build_ivf_index, vector_dim

    schema = "vec_id long, embedding array<double>"
    df = spark.createDataFrame([(0, None), (1, [1.0, 2.0, 3.0])], schema).coalesce(1)
    assert df.select("embedding").first()[0] is None  # the first row is NULL
    assert vector_dim(df) == 3

    nulls = spark.createDataFrame([(0, None)], schema)
    assert vector_dim(nulls) is None
    assert embedding_near_dups(nulls).count() == 0
    with pytest.raises(ValueError, match="empty vector table"):
        build_ann_index(nulls, str(tmp_path / "lsh"))
    with pytest.raises(ValueError, match="empty vector table"):
        build_ivf_index(nulls, str(tmp_path / "ivf"))


def test_null_vectors_are_skipped(spark, tmp_path):
    """A NULL vector has no cosine: it never pairs and is not indexed.
    Near-dups with NULL rows equal near-dups without them, and both
    index builders return the same index as on the NULL-free table."""
    from kgforge.textops.similarity import build_ann_index, build_ivf_index

    schema = "vec_id long, embedding array<double>"
    clean = _embeddings(spark)
    rows = [tuple(r) for r in clean.collect()]
    nulls = spark.createDataFrame(rows + [(7000, None), (7001, None)], schema)

    def pairs(df):
        return sorted(tuple(r) for r in embedding_near_dups(df, threshold=0.95).collect())

    assert pairs(nulls) == pairs(clean)
    assert (3, 9000) in {(a, b) for a, b, _ in pairs(nulls)}

    def index_rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).drop("v").collect())

    build_ann_index(clean, str(tmp_path / "lsh_clean"))
    build_ann_index(nulls, str(tmp_path / "lsh_nulls"))
    assert index_rows(str(tmp_path / "lsh_nulls")) == index_rows(str(tmp_path / "lsh_clean"))

    cents = build_ivf_index(clean, str(tmp_path / "ivf_clean"), k=8, seed=42)
    assert build_ivf_index(nulls, str(tmp_path / "ivf_nulls"), k=8, seed=42) == cents
    assert index_rows(str(tmp_path / "ivf_nulls")) == index_rows(str(tmp_path / "ivf_clean"))
