"""Sink/catalog protocol behind resumable triple materialization, and
the one owner of the bucketed triple-table layout.

`kgforge.lineage.materialize_triples` talks to a `TripleSink`; the
parquet+ledger sink is the local/sandbox default, and the Iceberg sink
binds the SAME protocol to snapshot-based commits on a cluster that has
the Iceberg runtime on the classpath (SURVEY.md §7.2/§7.4's
``catalog=iceberg|parquet`` switch). The protocol is deliberately
minimal — exactly the operations resume and audit need:

    ledger(stage)       the stage's completion records (None if none yet)
    repair(done)        delete torn output from a crashed run
    append(df)          write new bucketed data (df carries subj_bucket)
    bucket_census()     buckets present in storage right now
    read_buckets(b)     re-read buckets for checksum stats / the audit
    commit(stage, rows) durably record completion (ledger append /
                        snapshot commit)

The parquet layout — `subj_bucket=N` dirs keyed by `subj_bucket()`, a
`<path>/_lineage` ledger of LINEAGE_SCHEMA rows, and one bucketed write,
rebalanced on subj_bucket and sorted on (subj_bucket, subj, pred, obj)
— is known only here;
`kgforge.io.write.write_triples` goes through ParquetLedgerSink, and
`kgforge.lineage.verify_lineage` audits any sink through `resolve_sink`
and the protocol alone. All its IO goes through the Hadoop
FileSystem API resolved from the path's scheme, so census and repair
behave identically on file://, hdfs:// and s3a:// (driver-local
os.listdir would silently see an empty directory on a remote store).

The reference realizes durability as whole-file Turtle writes
(csv2rdf/csv2rdf.py:275-290 writes one .ttl per source); at 10^12
documents durability has to be per-partition, which is what this seam
expresses.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.io.fs import delete_path, list_dir_names, path_exists
from kgforge.session import local_df
from kgforge.triples.emit import TRIPLE_FIELDS

_BUCKET_PREFIX = "subj_bucket="


def subj_bucket(n_buckets: int) -> Column:
    """`pmod(xxhash64(subj), n_buckets)` as int — the bucket column of
    the triple table. A NULL subject would land in
    __HIVE_DEFAULT_PARTITION__ and wedge every later resume, so it fails
    the job instead (in-plan check, no extra pass)."""
    return F.expr(
        "CAST(pmod(xxhash64(CASE WHEN subj IS NULL THEN raise_error("
        "'bucketed triple write: NULL subj is not writable') ELSE subj END), "
        f"{int(n_buckets)}) AS INT)"
    )


def _bucketed_repartition(df: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Exchange rows by subj_bucket through Spark's REBALANCE, the
    head-entity skew guard: AQE sizes the write by bytes, coalescing
    small buckets into few tasks (a cold bucket stays in one file before
    maxRecordsPerFile splits) and splitting a bucket whose shuffle
    output exceeds `spark.sql.adaptive.advisoryPartitionSizeInBytes` at
    map-output boundaries, so a mega-hub subject's bucket is no
    straggler. A known count only sets the shuffle's initial width. The
    caller's within-partition sort keeps subj min/max pruning working."""
    if n_buckets is None:
        return df.hint("rebalance", F.col("subj_bucket"))
    return df.hint("rebalance", int(n_buckets), F.col("subj_bucket"))


class TripleSink(ABC):
    """Minimal storage contract for resumable bucketed triple writes."""

    @abstractmethod
    def ledger(self, stage: str) -> DataFrame | None:
        """`stage`'s durable completion records (LINEAGE_SCHEMA rows),
        or None when nothing was ever committed."""

    @abstractmethod
    def repair(self, done: set[int]) -> list[int]:
        """Delete bucket output present in storage but NOT in `done`
        (torn writes from a crashed run). Returns repaired buckets."""

    @abstractmethod
    def append(self, df: DataFrame, max_records_per_file: int) -> None:
        """Append `df` (already carrying subj_bucket) to the table."""

    @abstractmethod
    def bucket_census(self) -> set[int]:
        """Buckets physically present in storage."""

    @abstractmethod
    def read_buckets(self, buckets: list[int] | None) -> DataFrame:
        """Read back exactly `buckets`; None reads every stored row,
        rows outside any bucket included (the audit must see them)."""

    @abstractmethod
    def commit(self, stage: str, lineage_rows: list[tuple]) -> None:
        """Durably record (stage, bucket, row_count, checksum, run_id)
        rows — the moment a bucket counts as COMPLETE."""


class ParquetLedgerSink(TripleSink):
    """Default sink: parquet partitioned into subj_bucket=N dirs + a
    parquet lineage ledger under <path>/_lineage.

    Both are opened with the schema the sink owns (TABLE_SCHEMA,
    LINEAGE_SCHEMA) instead of one Spark job per open that infers it
    from a data file. Columns a caller wrote beyond the triple (e.g.
    provenance) are not part of the sink's reads."""

    LINEAGE_SCHEMA = (
        "stage string, bucket int, row_count long, checksum long, run_id string"
    )
    TABLE_SCHEMA = ", ".join(f"{c} string" for c in TRIPLE_FIELDS) + ", subj_bucket int"

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 64):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self._ledger_path = path.rstrip("/") + "/_lineage"

    def ledger(self, stage: str) -> DataFrame | None:
        if not path_exists(self.spark, self._ledger_path):
            return None
        return self.spark.read.schema(self.LINEAGE_SCHEMA).parquet(self._ledger_path).filter(
            F.col("stage") == stage
        )

    def _bucket_dirs(self) -> dict[int, str]:
        """{bucket -> dir name} for every subj_bucket=N child dir.

        Non-integer partition dirs (e.g. __HIVE_DEFAULT_PARTITION__ from a
        historical NULL-subject write) are skipped, not crashed on — repair
        must never be wedged by one corrupt dir name."""
        return {
            int(name[len(_BUCKET_PREFIX):]): name
            for name in list_dir_names(self.spark, self.path)
            if name.startswith(_BUCKET_PREFIX) and name[len(_BUCKET_PREFIX):].isdigit()
        }

    def repair(self, done: set[int]) -> list[int]:
        torn = {b: name for b, name in self._bucket_dirs().items() if b not in done}
        for name in torn.values():
            delete_path(self.spark, self.path.rstrip("/") + "/" + name)
        return sorted(torn)

    def append(self, df: DataFrame, max_records_per_file: int) -> None:
        self._write(df, max_records_per_file, "append")

    def _write(self, df: DataFrame, max_records_per_file: int, mode: str) -> None:
        """The one bucketed write. The sort leads with subj_bucket:
        Spark's partitioned writer needs its rows ordered by the
        partition column and otherwise replaces the caller's sort with
        a subj_bucket-only sort, losing the subj order that min/max
        row-group pruning relies on."""
        out = _bucketed_repartition(df, self.n_buckets)
        (
            out.sortWithinPartitions("subj_bucket", "subj", "pred", "obj")
            .write.mode(mode)
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("subj_bucket")
            .parquet(self.path)
        )

    def bucket_census(self) -> set[int]:
        return set(self._bucket_dirs())

    def read_buckets(self, buckets: list[int] | None) -> DataFrame:
        table = self._open_table()
        if buckets is None:
            return table
        return table.filter(F.col("subj_bucket").isin(buckets))

    def _open_table(self) -> DataFrame:
        """The table, its bucket dirs listed on the driver: Spark lists
        more than `parallelPartitionDiscovery.threshold` (32) dirs in a
        job of its own (~220 ms per 64-bucket open at local[2], against
        ~12 ms in place; the dirs passed with `basePath` still list in a
        job), so the threshold is raised to the bucket count here."""
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        conf = self.spark.conf
        saved = conf.get(key)
        conf.set(key, str(max(int(saved), self.n_buckets)))
        try:
            return self.spark.read.schema(self.TABLE_SCHEMA).parquet(self.path)
        finally:
            conf.set(key, saved)

    def commit(self, stage: str, lineage_rows: list[tuple]) -> None:
        local_df(self.spark, lineage_rows, self.LINEAGE_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(self._ledger_path)


def _iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the driver classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergSnapshotSink(TripleSink):
    """Iceberg binding of the sink protocol (requires the
    iceberg-spark-runtime jar + a configured catalog; NOT available in
    this sandbox — the constructor refuses cleanly rather than letting
    any method half-work).

    Protocol mapping (each commit is an Iceberg snapshot, so the ledger
    lives next to the data table as a second Iceberg table):
      append        create-if-absent PARTITIONED BY (subj_bucket) with
                    write.distribution-mode=hash, then
                    df.writeTo(table).append() — one snapshot
      commit        writeTo(table + '_lineage').append() — the lineage
                    snapshot is the durability point, same as the
                    parquet ledger append
      ledger        scan of the lineage table
      bucket_census the table's `.partitions` metadata table
      repair        DELETE WHERE subj_bucket IN (torn) — or, when the
                    torn write is the latest snapshot, a rollback via
                    CALL catalog.system.rollback_to_snapshot

    Tables are auto-created on the first append, PARTITIONED BY
    subj_bucket (bucket_census/repair depend on that layout — a
    PRE-created table must use the same partition spec). The parquet
    sink's max_records_per_file knob has no Iceberg equivalent (the
    Spark-Iceberg writer rolls files by BYTES, not records): it maps
    to `target_file_size_bytes`, written as the
    write.target-file-size-bytes table property at creation. The
    write exchange is the parquet sink's rebalance.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        target_file_size_bytes: int | None = None,
    ):
        if not _iceberg_runtime_available(spark):
            raise RuntimeError(
                "catalog='iceberg' requires the Iceberg Spark runtime "
                "(org.apache.iceberg.spark.SparkCatalog not on the driver "
                "classpath). Launch with e.g. spark-submit --packages "
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
                "and a spark.sql.catalog.<name> configuration, or use the "
                "default catalog='parquet' sink."
            )
        self.spark = spark
        self.table = table
        self.target_file_size_bytes = target_file_size_bytes

    @property
    def _lineage_table(self) -> str:
        return self.table + "_lineage"

    def _create_partitioned(self, df: DataFrame) -> None:
        """First write: CREATE the table from `df`, PARTITIONED BY
        subj_bucket (identity partition — census/repair address buckets
        through the partition spec), hash distribution so each bucket's
        rows land in one write task, and the size-based file-rolling
        property standing in for the parquet sink's record cap."""
        writer = (
            df.writeTo(self.table)
            .partitionedBy(F.col("subj_bucket"))
            .tableProperty("write.distribution-mode", "hash")
        )
        if self.target_file_size_bytes:
            writer = writer.tableProperty(
                "write.target-file-size-bytes", str(int(self.target_file_size_bytes))
            )
        writer.create()

    def ledger(self, stage: str) -> DataFrame | None:
        if not self.spark.catalog.tableExists(self._lineage_table):
            return None
        return self.spark.read.table(self._lineage_table).filter(
            F.col("stage") == stage
        )

    def repair(self, done: set[int]) -> list[int]:
        torn = sorted(self.bucket_census() - done)
        if torn:
            self.spark.sql(
                f"DELETE FROM {self.table} WHERE subj_bucket IN "
                f"({','.join(str(b) for b in torn)})"
            )
        return torn

    def append(self, df: DataFrame, max_records_per_file: int) -> None:
        # max_records_per_file is a parquet-sink knob; Iceberg rolls
        # files by bytes (see class docstring / target_file_size_bytes)
        out = _bucketed_repartition(df).sortWithinPartitions(
            "subj_bucket", "subj", "pred", "obj"
        )
        if not self.spark.catalog.tableExists(self.table):
            self._create_partitioned(out)
            return
        out.writeTo(self.table).append()

    def bucket_census(self) -> set[int]:
        if not self.spark.catalog.tableExists(self.table):
            return set()
        return {
            r.partition.subj_bucket
            for r in self.spark.read.table(self.table + ".partitions").collect()
        }

    def read_buckets(self, buckets: list[int] | None) -> DataFrame:
        table = self.spark.read.table(self.table)
        if buckets is None:
            return table
        return table.filter(F.col("subj_bucket").isin(buckets))

    def commit(self, stage: str, lineage_rows: list[tuple]) -> None:
        ldf = local_df(
            self.spark, lineage_rows, ParquetLedgerSink.LINEAGE_SCHEMA
        ).coalesce(1)
        if not self.spark.catalog.tableExists(self._lineage_table):
            ldf.writeTo(self._lineage_table).create()  # ledger: unpartitioned
            return
        ldf.writeTo(self._lineage_table).append()


def resolve_sink(
    spark: SparkSession,
    path: str,
    catalog: str | TripleSink = "parquet",
    n_buckets: int = 64,
) -> TripleSink:
    """catalog= flag → sink instance; a TripleSink passes through."""
    if isinstance(catalog, TripleSink):
        return catalog
    if catalog == "parquet":
        return ParquetLedgerSink(spark, path, n_buckets)
    if catalog == "iceberg":
        return IcebergSnapshotSink(spark, path)
    raise ValueError(f"unknown catalog {catalog!r} (expected parquet|iceberg)")
