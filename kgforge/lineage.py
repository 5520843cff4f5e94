"""Resumable materialization with per-partition lineage + counters.

North-rule requirement: any stage resumes idempotently from
checkpointed snapshots with per-partition lineage rows and metrics.

Local/sandbox realization (no Iceberg runtime jar — SURVEY.md §7.1):
the triple table is a parquet layout partitioned by `subj_bucket`
(pmod(xxhash64(subj), N)); the lineage ledger is a parquet table of

    (stage, bucket, row_count, checksum, run_id)

one row per completed bucket. Resume contract:
  * buckets with a lineage row are COMPLETE — the input is filtered to
    the remaining buckets only (partition-level anti-join, so a 99%
    finished 100 TB job redoes 1%);
  * bucket dirs on disk WITHOUT a lineage row are torn from a crashed
    run — they are repaired (deleted) before re-writing, which makes
    re-running the same call idempotent;
  * checksum = bit_xor(xxhash64(triple)) per bucket — order-
    independent and overflow-free, so audits re-verify any bucket
    cheaply.

ALL data-path IO goes through the Hadoop FileSystem API resolved from
the path's scheme — the bucket census and torn-bucket repair behave
identically on file://, hdfs:// and s3a:// (driver-local os.listdir
would silently see an empty directory on any remote store).

On a real cluster the same interface binds to Iceberg via the sink
protocol in kgforge.io.catalog (`materialize_triples(...,
catalog="iceberg")`): snapshot commit replaces the ledger append, and
repair is a snapshot rollback / partition delete. The bucket filter
and lineage schema are identical; the Iceberg sink refuses cleanly
when the runtime jar is absent.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.io.fs import hadoop_fs as _hadoop_fs
from kgforge.io.fs import path_exists as _path_exists
from kgforge.io.write import subj_bucket
from kgforge.triples.emit import TRIPLE_FIELDS

_BUCKET_PREFIX = "subj_bucket="


def _bucket_dirs_on_disk(spark: SparkSession, path: str) -> dict[int, object]:
    """{bucket -> hadoop Path} for every subj_bucket=N child dir.

    Non-integer partition dirs (e.g. __HIVE_DEFAULT_PARTITION__ from a
    historical NULL-subject write) are skipped, not crashed on — repair
    must never be wedged by one corrupt dir name.
    """
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return {}
    out: dict[int, object] = {}
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not name.startswith(_BUCKET_PREFIX):
            continue
        val = name[len(_BUCKET_PREFIX):]
        if not val.isdigit():
            continue
        out[int(val)] = status.getPath()
    return out


def _lineage_path(path: str) -> str:
    return path.rstrip("/") + "/_lineage"


def read_lineage(spark: SparkSession, path: str) -> DataFrame | None:
    lp = _lineage_path(path)
    if not _path_exists(spark, lp):
        return None
    return spark.read.parquet(lp)


def completed_buckets(spark: SparkSession, path: str, stage: str) -> set[int]:
    lin = read_lineage(spark, path)
    if lin is None:
        return set()
    return {
        r.bucket for r in lin.filter(F.col("stage") == stage).select("bucket").collect()
    }


def _repair_torn_buckets(spark: SparkSession, path: str, done: set[int]) -> list[int]:
    """Delete bucket dirs that exist on disk without a lineage row
    (partial output from a crashed run)."""
    on_disk = _bucket_dirs_on_disk(spark, path)
    fs, _ = _hadoop_fs(spark, path)
    torn = []
    for bucket, jpath in on_disk.items():
        if bucket not in done:
            fs.delete(jpath, True)
            torn.append(bucket)
    return sorted(torn)


def _bucket_stats(table: DataFrame) -> DataFrame:
    """(subj_bucket, row_count, checksum) per bucket, checksum =
    bit_xor(xxhash64(triple)): the figures the ledger records and the
    audit recomputes."""
    row_hash = F.xxhash64(*[F.coalesce(F.col(c), F.lit("\x00")) for c in TRIPLE_FIELDS])
    return table.groupBy("subj_bucket").agg(
        F.count(F.lit(1)).alias("row_count"), F.bit_xor(row_hash).alias("checksum")
    )


def materialize_triples(
    triples: DataFrame,
    path: str,
    stage: str = "materialize",
    n_buckets: int = 64,
    max_records_per_file: int = 20000,
    catalog: str | object = "parquet",
    salt_partitions: int | None = None,
) -> dict:
    """Idempotent, resumable bucketed write. Returns run metrics.

    `catalog` selects the storage binding: "parquet" (default),
    "iceberg" (requires the runtime jar — raises cleanly without it),
    or a kgforge.io.catalog.TripleSink instance.

    `salt_partitions` spreads a hot subj_bucket (head-entity skew:
    one mega-hub subject ≈ one bucket ≈ one straggler write task)
    across several write tasks: rows are range-partitioned on
    (subj_bucket, salt), the salt a hash of the non-subject columns in
    [0, salt_partitions). A cold bucket lands in at most 2 files, a
    hot bucket is split by its row count, and the range bounds cost
    one small sampling job per write (see
    kgforge.io.catalog._bucketed_repartition). Layout, resume and
    audit semantics are unchanged — only task balance and file count
    differ."""
    from kgforge.io.catalog import resolve_sink

    spark = triples.sparkSession
    sink = resolve_sink(spark, path, catalog, n_buckets, salt_partitions)
    done = sink.completed(stage)
    torn = sink.repair(done)

    df = triples.withColumn("subj_bucket", subj_bucket(n_buckets))
    if done:
        df = df.filter(~F.col("subj_bucket").isin(*sorted(done)))

    run_id = uuid.uuid4().hex[:12]
    # single pass over the input: write, then compute lineage stats
    # from the WRITTEN columnar files (cheap re-read of only the new
    # buckets; the ledger certifies what is actually in storage)
    sink.append(df, max_records_per_file)
    todo = sorted(sink.bucket_census() - done)
    rows_written = 0
    if todo:
        stats = _bucket_stats(sink.read_buckets(todo)).collect()
        lineage_rows = [
            (stage, int(r.subj_bucket), int(r.row_count), int(r.checksum), run_id)
            for r in stats
        ]
        sink.commit(stage, lineage_rows)
        rows_written = int(sum(r.row_count for r in stats))

    return {
        "stage": stage,
        "run_id": run_id,
        "buckets_written": len(todo),
        "buckets_skipped": len(done),
        "buckets_repaired": torn,
        "rows_written": rows_written,
    }


def verify_lineage(spark: SparkSession, path: str, stage: str = "materialize") -> bool:
    """Audit: recompute per-bucket checksums from the table and compare
    with the ledger."""
    lin = read_lineage(spark, path)
    if lin is None:
        return False
    actual = _bucket_stats(spark.read.parquet(path))
    ledger = (
        lin.filter(F.col("stage") == stage)
        .groupBy("bucket")
        .agg(
            F.sum("row_count").alias("ledger_rows"),
            F.bit_xor("checksum").alias("ledger_sum"),
        )
        .withColumnRenamed("bucket", "subj_bucket")
    )
    # a bucket on one side only meets NULLs on the other: a mismatch
    diff = actual.join(ledger, "subj_bucket", "full").filter(
        ~F.col("row_count").eqNullSafe(F.col("ledger_rows"))
        | ~F.col("checksum").eqNullSafe(F.col("ledger_sum"))
    )
    return diff.isEmpty()
