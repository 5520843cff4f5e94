"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline; one narrow pass +
  a top-k aggregate (no shuffle of the full score set: TakeOrdered).
* LSH-bucketed ANN — a scale path: random-hyperplane sign buckets
  (driver-seeded, deterministic) materialized as a partitioned index
  (`build_ann_index`); a probe (`ann_index_topk`) scans only the
  query's buckets, optionally with multi-probe by flipping bits.
  Recall is measured against the brute-force baseline in tests.
* IVF ANN — the other scale path the pipeline brief names: a TRAINED
  coarse quantizer (sampled k-means) partitions vectors into cells
  that follow the data distribution; a probe scans the nprobe nearest
  cells only (partition pruning at the parquet scan).

Dot products are pure JVM (`aggregate`/`zip_with`) on doubles; bulk
bucket/cell assignment is one Arrow-batched numpy pass.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgforge.profile import SAFE, ScaleProfile
from kgforge.textops.dedup import _bucket_pairs, _collapse_exact, _expand_pairs


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM columnar)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def vector_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Length of the first non-NULL vector in `vec_col` (one take(1)
    job), or None when the column holds no vector at all."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return None if row is None else len(row[0])


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (vec_id, score) — deterministic order
    (score desc, id asc)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias("vec_id"),
        F.round(cosine_expr(_as_double(F.col(vec_col)), q), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def buckets_udf(all_planes: list[list[list[float]]]):
    """Vectorized per-row bucket ids for EVERY table at once: one
    Arrow-batched matmul against the stacked (n_tables·n_planes, dim)
    hyperplane matrix, then sign-bit packing per table. Returns an
    `array<int>` column (element t = table t's bucket)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables = len(all_planes)
    n_planes = len(all_planes[0])
    mat = np.asarray(
        [p for planes in all_planes for p in planes], dtype=np.float64
    )  # (n_tables*n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit j ↔ plane j

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint inspection then rejects the signature;
    # the explicit returnType implies a scalar pandas UDF
    @pandas_udf("array<int>")
    def _buckets(vecs):
        v = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (v @ mat.T) >= 0  # (batch, n_tables*n_planes)
        signs = signs.reshape(len(v), n_tables, n_planes)
        ids = (signs * weights).sum(axis=2).astype(np.int32)  # (batch, n_tables)
        return pd.Series(list(ids))

    return _buckets


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    profile: ScaleProfile = SAFE,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, score ≥ threshold):
    bucket by hyperplane signs, pair only within buckets, verify with
    exact cosine.

    MULTI-TABLE (OR over `n_tables` independent hyperplane sets): with
    one table, any pair straddling a single hyperplane is lost — at
    cosine 0.96 and 10 planes the miss probability per table is
    substantial (≈1-(1-θ/π)^10 ≈ 0.6 for θ≈0.28rad); three independent
    tables cut it to ≈0.2 at 3× candidate cost, and each extra table
    multiplies the residual miss rate. Candidate pairs are deduped
    across tables BEFORE the exact-cosine verify, so overlapping
    buckets don't pay double.

    SIZING n_planes WITH THE CORPUS: the bucket count per table is
    FIXED at 2^n_planes, so expected bucket population grows linearly
    with corpus size — and intra-bucket pair output quadratically.
    The default (n_planes=10 → 1024 buckets) is a test-scale setting;
    at N vectors pick n_planes ≈ log2(N / target_bucket_size) (e.g.
    10⁹ vectors, ~1k-vector buckets → n_planes ≈ 20). Independent of
    sizing, degenerate inputs (all-zero vectors, exact-duplicate
    embeddings from boilerplate pages) pile into ONE bucket, which is
    what the guard is for:

    `profile`'s max_bucket + oversize — the census guard shared with
    minhash and simhash near-dups (`kgforge.textops.dedup._bucket_pairs`)
    on the (tbl, bucket) buckets; under "drop" an over-full sign bucket
    at a sane cap is a degenerate pile, not near-dup signal.

    Round-7 reformulation, OUTPUT-IDENTICAL (the same lossless group
    collapse as the text dedup family, proofs in
    ngram_jaccard_pairs): buckets and cosine are pure functions of the
    vector, so EXACT-DUPLICATE VECTORS are collapsed to one
    representative (keyed by md5 of the vector rendered to string —
    the identity `dataset_fingerprint` already uses). Candidates and
    the exact-cosine verify run between group reps only; the census
    stays DOC-weighted (Σ gsize) so max_bucket/oversize fire on the
    same buckets as before; member expansion and intra-group pairs
    (score = round(cosine(v, v), 6), same expression) are join-based
    over a (gid, id) row table — no membership arrays. Under
    oversize="drop" a group keeps its intra pairs only while it still
    has a surviving bucket, exactly the round-6 condition."""
    if dim is None:
        # dim probe = a driver take(1) job over the full input plan;
        # callers that know the dimension (or can probe a cheaper
        # subset of the input) should pass `dim` — measured 1.7 s cold
        # for a union-of-scans plan vs 0.13 s for the plain base scan
        dim = vector_dim(df, vec_col)
        if dim is None:
            return df.sparkSession.createDataFrame(
                [], "a long, b long, score double"
            )
    # a NULL vector has no cosine, so it never pairs: drop it before
    # the collapse and the bucket UDF (which cannot stack it)
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    groups, mem = _collapse_exact(base, "id", "v", "v")

    # one vectorized bucket pass for all tables, then ONE pair
    # generation over (tbl, bucket) — the banded-rows formulation
    # instead of n_tables separate passes
    udf = buckets_udf(
        [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    banded = groups.select(
        "gid", "gsize", F.posexplode(udf(F.col("v"))).alias("tbl", "bucket")
    )
    cand, intra_src = _bucket_pairs(banded, ["tbl", "bucket"], groups, profile)

    # -- exact-cosine verify at rep level, then expand ------------------
    # Per-VECTOR quantities are computed once per group and attached to
    # the pair instead of re-folding per pair (guide §1.2 per-task
    # work): the norm folds are 2 of cosine_expr's 3 array aggregates,
    # and the float expression is unchanged (same ops on the same
    # values → identical score). The normalized lead coordinates feed
    # a LOSSLESS prefilter: round(cos,6) ≥ t needs cos ≥ t − 5e-7, and
    # for unit-normalized â, b̂: ‖â−b̂‖² = 2−2·cos, so every surviving
    # pair has (â_i−b̂_i)² ≤ 2−2(t−5e-7) in EVERY coordinate — pairs
    # failing that on a lead coordinate cannot reach the threshold and
    # skip the 64-element dot fold entirely (zero-norm vectors score
    # 0.0 < t and are dropped either way; the prefilter is only armed
    # for t > 0, since at t ≤ 0 zero-norm pairs must survive).
    # server-side-parsed folds (Column-API lambdas cost dozens of py4j
    # round trips per plan construction); CAST keeps the double zero
    # seed — a bare SQL 0.0 would parse as DECIMAL
    norm = F.expr("sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))")
    gv = groups.select("gid", "v", norm.alias("nv"))
    n_pref = min(dim, 2)
    pref = [
        (F.get(F.col("v"), i) / F.col("nv")).alias(f"c{i}") for i in range(n_pref)
    ]
    va = gv.select(
        F.col("gid").alias("a"), F.col("v").alias("va"), F.col("nv").alias("na"),
        *[p.alias(f"ca{i}") for i, p in enumerate(pref)],
    )
    vb = gv.select(
        F.col("gid").alias("b"), F.col("v").alias("vb"), F.col("nv").alias("nb"),
        *[p.alias(f"cb{i}") for i, p in enumerate(pref)],
    )
    paired = cand.join(va, "a").join(vb, "b")
    if threshold > 0:
        eps2 = F.lit(2.0 * (1.0 - (float(threshold) - 5e-7)) + 1e-9)
        for i in range(n_pref):
            d = F.col(f"ca{i}") - F.col(f"cb{i}")
            paired = paired.filter(
                (F.col("na") > 0) & (F.col("nb") > 0) & (d * d <= eps2)
            )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0), dot / (F.col("na") * F.col("nb"))
    ).otherwise(F.lit(0.0))
    rep = (
        paired.select("a", "b", F.round(cos, 6).alias("score"))
        .filter(F.col("score") >= threshold)
    )
    intra = (
        intra_src.join(groups.select("gid", "v"), "gid")
        .select(
            "gid", F.round(cosine_expr(F.col("v"), F.col("v")), 6).alias("score")
        )
        .filter(F.col("score") >= threshold)
    )
    return _expand_pairs(rep, intra, mem)


# ----------------------------------------------------------- ANN index
_MANIFEST_NAME = "_kgforge_index.json"


def dataset_fingerprint(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """Order-independent content fingerprint of a vector table:
    (row count, bit_xor of xxhash64(id, vector-as-string)). One narrow
    scan — cheap at index-build scale (the build scans the vectors
    anyway); at probe time prefer validating against the manifest's
    stored fingerprint instead of recomputing over 100 TB.

    The scan is spread first when it cannot fill the session's
    parallelism (a single-row-group parquet file reads on 1-2 tasks
    and serializes the per-row hash behind it — measured 0.70 →
    0.39 s per probe-time call at the sf1.0 bench); count + bit_xor
    are order-independent, so the value is partitioning-invariant."""
    from kgforge.triples.emit import _spread_small_scan

    df = _spread_small_scan(df)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col(id_col), F.col(vec_col).cast("string"))),
            F.lit(0),
        ).alias("x"),
    ).first()
    return f"{row.n}:{row.x}"


def _manifest_path(path: str) -> str:
    return path.rstrip("/") + "/" + _MANIFEST_NAME


def read_index_manifest(spark, path: str) -> dict | None:
    """Build-params manifest written by build_ann_index, or None."""
    import json

    from kgforge.io.fs import path_exists, read_text

    mp = _manifest_path(path)
    if not path_exists(spark, mp):
        return None
    return json.loads(read_text(spark, mp))


def _auto_partition_bits(n_rows: int, n_planes: int) -> int:
    """Physical-partition granularity: aim for ≥ ~4k vectors per
    partition dir so small indexes don't drown in directory-commit
    overhead (measured: 13.6s of a 14s build was committing 1024 tiny
    dirs at 2k vectors) while large ones keep full dir-level pruning.
    """
    bits = 0
    while bits < n_planes and (n_rows >> bits) > 4000:
        bits += 1
    return bits


def build_ann_index(
    df: DataFrame,
    path: str,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_bits: int | None = None,
    fingerprint: str | None = None,
) -> None:
    """Materialize the LSH index: one vectorized pass computing each
    vector's per-table sign bucket (buckets_udf: single Arrow matmul),
    written as parquet PARTITIONED BY (tbl, bucket_p) and SORTED by
    bucket within files: the one-time index cost is amortized over all
    queries, and a probe (`ann_index_topk`) reads ONLY the probed
    partitions.

    Two-level pruning: `bucket_p` = the top `partition_bits` bits of
    the bucket is the DIRECTORY key (partition pruning at the scan —
    `PartitionFilters` in the plan), and the exact `bucket` is a
    sorted data column, so the residual isin lands in `PushedFilters`
    and prunes parquet row groups via min/max stats. partition_bits
    auto-sizes to the table (dirs stay ≥ ~4k rows) — full dir-level
    fanout at billions of vectors, a handful of dirs at test scale.

    Storage is n_tables× the vector column (standard LSH trade);
    `tbl` is intentionally not named `table` (reserved-ish in SQL
    tooling).

    A `_kgforge_index.json` manifest (build params + optional caller-
    supplied data `fingerprint`) is written next to the data; probes
    read their parameters from it, so a probe can never silently use
    planes that differ from the ones the index was built with."""
    import json

    from kgforge.io.fs import write_text

    df = df.filter(F.col(vec_col).isNotNull())  # a NULL vector is not indexed
    dim = vector_dim(df, vec_col)
    if dim is None:
        raise ValueError("cannot index an empty vector table")
    n_rows = df.count()
    if partition_bits is None:
        partition_bits = _auto_partition_bits(n_rows, n_planes)
    vec = _as_double(F.col(vec_col))
    base = df.select(F.col(id_col).alias("vec_id"), vec.alias("v"))
    udf = buckets_udf(
        [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    entries = (
        base.withColumn("bks", udf(F.col("v")))
        .select("vec_id", "v", F.posexplode("bks").alias("tbl", "bucket"))
        .withColumn(
            "bucket_p", F.shiftright("bucket", n_planes - partition_bits)
        )
    )
    (
        entries.repartition("tbl", "bucket_p")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .partitionBy("tbl", "bucket_p")
        .parquet(path)
    )
    # manifest AFTER the data write (mode=overwrite clears the dir);
    # leading underscore keeps it invisible to spark.read.parquet
    write_text(
        df.sparkSession,
        _manifest_path(path),
        json.dumps(
            {
                "version": 1,
                "n_planes": n_planes,
                "n_tables": n_tables,
                "seed": seed,
                "partition_bits": partition_bits,
                "dim": dim,
                "n_rows": n_rows,
                "fingerprint": fingerprint,
            }
        ),
    )


def ann_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int | None = None,
    multiprobe_bits: int = 1,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """Probe the materialized index: per table, an `isin` on the
    `bucket_p` PARTITION column prunes the scan to the probed dirs,
    and the exact-bucket isin is pushed into the parquet reader
    (row-group pruning on the sorted bucket column); candidates are
    deduped, exact cosine on survivors only.

    LSH params come from the index's own manifest — a caller passing
    explicit values that differ from the build's raises instead of
    silently probing with the wrong hyperplanes (the partition shift
    likewise comes from the manifest, replacing the old full-index
    max() recovery scan). `expected_fingerprint` set → must equal the
    fingerprint recorded at build time (stale-cache guard)."""
    manifest = read_index_manifest(spark, path)
    if manifest is None:
        raise FileNotFoundError(
            f"no {_MANIFEST_NAME} under {path} — rebuild with build_ann_index "
            "(indexes without a manifest cannot be probed safely)"
        )
    for name, given in (("n_planes", n_planes), ("n_tables", n_tables), ("seed", seed)):
        if given is not None and given != manifest[name]:
            raise ValueError(
                f"index at {path} was built with {name}={manifest[name]}, "
                f"probe requested {name}={given}"
            )
    if expected_fingerprint is not None and manifest.get("fingerprint") != expected_fingerprint:
        raise ValueError(
            f"index at {path} is stale: built from fingerprint "
            f"{manifest.get('fingerprint')}, expected {expected_fingerprint}"
        )
    n_planes = manifest["n_planes"]
    n_tables = manifest["n_tables"]
    seed = manifest["seed"]
    shift = n_planes - manifest["partition_bits"]

    qv = [float(x) for x in query_vec]
    q = F.array(*[F.lit(x) for x in qv])
    idx = spark.read.parquet(path)

    probe_cond = F.lit(False)
    for t in range(n_tables):
        planes = hyperplanes(len(qv), n_planes, seed + 1000 * t)
        qb = 0
        for j, h in enumerate(planes):
            if sum(x * y for x, y in zip(qv, h)) >= 0:
                qb |= 1 << j
        probes = {qb}
        if multiprobe_bits >= 1:
            probes |= {qb ^ (1 << j) for j in range(n_planes)}
        if multiprobe_bits >= 2:
            probes |= {
                qb ^ (1 << i) ^ (1 << j)
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            }
        dir_probes = sorted({b >> shift for b in probes})
        probe_cond = probe_cond | (
            (F.col("tbl") == t)
            & F.col("bucket_p").isin(*dir_probes)
            & F.col("bucket").isin(*sorted(probes))
        )

    cand = idx.filter(probe_cond).select("vec_id", "v").dropDuplicates(["vec_id"])
    scored = cand.select(
        "vec_id", F.round(cosine_expr(F.col("v"), q), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


# ----------------------------------------------------------- IVF index
# The second scale path the pipeline brief names ("an IVF or
# LSH-bucketed variant"): a trained coarse quantizer instead of random
# hyperplanes. Cells adapt to the data distribution, so a probe scans
# the nprobe nearest cells — data-aware pruning where LSH prunes
# data-obliviously.

_IVF_MANIFEST = "_kgforge_ivf.json"


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd k-means on a bounded sample (k-means++
    seeded init). Driver state is the SAMPLE (≤ `sample` vectors) and
    the k×dim centroid matrix — both caller-bounded, independent of
    corpus size; at 10^12 vectors the sample is still `sample` rows
    (limit() pushdown, no full scan materialized)."""
    import numpy as np

    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(_as_double(F.col(vec_col)).alias("v"))
        .limit(sample)
        .collect()
    )
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    if len(x) < k:
        raise ValueError(f"sample of {len(x)} vectors cannot seed k={k} centroids")
    rng = np.random.RandomState(seed)
    # k-means++ init
    cents = [x[rng.randint(len(x))]]
    for _ in range(k - 1):
        d2 = np.min(
            ((x[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(-1), axis=1
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(x[rng.choice(len(x), p=probs)])
    c = np.asarray(cents)
    for _ in range(iters):
        assign = (((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)).argmin(axis=1)
        for j in range(k):
            m = x[assign == j]
            if len(m):
                c[j] = m.mean(axis=0)
    return [[float(v) for v in row] for row in c]


def ivf_assign_udf(centroids: list[list[float]]):
    """Vectorized nearest-centroid assignment: one Arrow-batched pass,
    squared distances rounded to 6 decimals before argmin with
    centroid-id tie-break — the SAME rounding the DuckDB oracle
    applies, so near-tie boundary cells agree across engines."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    @pandas_udf("int")
    def _assign(vecs):
        v = np.stack(vecs.to_numpy())  # (batch, dim)
        d2 = ((v[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        d2 = np.round(d2, 6)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return _assign


def nearest_centroids(query_vec: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """The query's nprobe nearest cells (rounded-distance + id
    tie-break, mirroring ivf_assign_udf)."""
    import numpy as np

    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    d2 = np.round(((c - q[None, :]) ** 2).sum(-1), 6)
    order = sorted(range(len(c)), key=lambda i: (d2[i], i))
    return order[:nprobe]


def build_ivf_index(
    df: DataFrame,
    path: str,
    k: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    fingerprint: str | None = None,
) -> list[list[float]]:
    """Materialize the IVF index: train (or take) centroids, assign
    every vector to its nearest cell in one vectorized pass, write
    parquet PARTITIONED BY list_id. A probe reads ONLY the probed
    cells (partition pruning at the scan — `PartitionFilters`), so
    probe cost is nprobe/k of the table for balanced cells.

    The manifest records centroids + dim + optional content
    `fingerprint` (same guard pattern as the LSH index: probes can
    never silently use different centroids than the build)."""
    import json

    from kgforge.io.fs import write_text

    df = df.filter(F.col(vec_col).isNotNull())  # a NULL vector is not indexed
    dim = vector_dim(df, vec_col)
    if dim is None:
        raise ValueError("cannot index an empty vector table")
    if centroids is None:
        centroids = train_ivf_centroids(df, k, sample, iters, seed, vec_col)
    udf = ivf_assign_udf(centroids)
    entries = df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("list_id", udf(F.col("v")))
    (
        entries.repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )
    write_text(
        df.sparkSession,
        path.rstrip("/") + "/" + _IVF_MANIFEST,
        json.dumps(
            {
                "version": 1,
                "k": len(centroids),
                "dim": dim,
                "seed": seed,
                "centroids": centroids,
                "fingerprint": fingerprint,
            }
        ),
    )
    return centroids


def read_ivf_manifest(spark, path: str) -> dict | None:
    import json

    from kgforge.io.fs import path_exists, read_text

    mp = path.rstrip("/") + "/" + _IVF_MANIFEST
    if not path_exists(spark, mp):
        return None
    return json.loads(read_text(spark, mp))


def ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """Probe the IVF index: nearest `nprobe` cells by the query's
    centroid distances (driver-side, k-sized), scan ONLY those
    partitions (isin on the list_id partition column), exact cosine on
    the survivors — (vec_id, score), score desc / id asc."""
    manifest = read_ivf_manifest(spark, path)
    if manifest is None:
        raise FileNotFoundError(
            f"no {_IVF_MANIFEST} under {path} — rebuild with build_ivf_index"
        )
    if expected_fingerprint is not None and manifest.get("fingerprint") != expected_fingerprint:
        raise ValueError(
            f"IVF index at {path} is stale: built from fingerprint "
            f"{manifest.get('fingerprint')}, expected {expected_fingerprint}"
        )
    probes = nearest_centroids(query_vec, manifest["centroids"], nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    idx = spark.read.parquet(path).filter(F.col("list_id").isin(*probes))
    scored = idx.select(
        "vec_id", F.round(cosine_expr(F.col("v"), q), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)
