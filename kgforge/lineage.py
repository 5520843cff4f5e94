"""Resumable materialization with per-partition lineage + counters.

North-rule requirement: any stage resumes idempotently from
checkpointed snapshots with per-partition lineage rows and metrics.

This module is the policy; the storage layout lives behind the sink
protocol in kgforge.io.catalog (ledger, repair, append, bucket_census,
read_buckets, commit). Local/sandbox realization (no Iceberg runtime
jar — SURVEY.md §7.1): ParquetLedgerSink, a parquet table partitioned
by `subj_bucket` (pmod(xxhash64(subj), N)) plus a parquet ledger of

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

On a real cluster the same protocol binds to Iceberg
(`materialize_triples(..., catalog="iceberg")`): snapshot commit
replaces the ledger append, and repair is a snapshot rollback /
partition delete. The bucket filter and lineage schema are identical;
the Iceberg sink refuses cleanly when the runtime jar is absent.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.io.catalog import resolve_sink, subj_bucket
from kgforge.session import sql_str
from kgforge.triples.emit import TRIPLE_FIELDS


def _bucket_stats(table: DataFrame) -> DataFrame:
    """(subj_bucket, row_count, checksum) per bucket, checksum =
    bit_xor(xxhash64(triple)): the figures the ledger records and the
    audit recomputes."""
    row_hash = ", ".join(f"coalesce({c}, {sql_str(chr(0))})" for c in TRIPLE_FIELDS)
    return table.groupBy("subj_bucket").agg(
        F.expr("count(1) AS row_count"), F.expr(f"bit_xor(xxhash64({row_hash})) AS checksum")
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

    The write is skew-safe without a knob: Spark's REBALANCE splits a
    hot subj_bucket (one mega-hub subject ≈ one bucket) over several
    write tasks by its shuffle bytes and keeps each cold bucket in one
    file (kgforge.io.catalog._bucketed_repartition). `salt_partitions`
    is accepted for existing callers and ignored: it no longer selects
    a plan."""
    spark = triples.sparkSession
    sink = resolve_sink(spark, path, catalog, n_buckets)
    ledger = sink.ledger(stage)
    done = set()
    if ledger is not None:
        done = {r.bucket for r in ledger.select("bucket").collect()}
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


def verify_lineage(
    spark: SparkSession,
    path: str,
    stage: str = "materialize",
    catalog: str | object = "parquet",
) -> bool:
    """Audit: recompute per-bucket checksums from every stored row and
    compare with the ledger. `catalog` names the storage binding as in
    `materialize_triples` ("parquet", "iceberg" or a
    kgforge.io.catalog.TripleSink instance); the audit reads only
    through the sink protocol (ledger, read_buckets)."""
    sink = resolve_sink(spark, path, catalog)
    lin = sink.ledger(stage)
    if lin is None:
        return False
    actual = _bucket_stats(sink.read_buckets(None))
    ledger = (
        lin.groupBy("bucket")
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
