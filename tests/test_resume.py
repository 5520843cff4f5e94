"""Resumable materialization: idempotence, partition-level resume,
torn-bucket repair, lineage audit (BASELINE.md §2 resumability gate)."""

from __future__ import annotations

import os
import shutil

from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

import pytest

from kgforge.io.catalog import ParquetLedgerSink, TripleSink
from kgforge.io.write import write_triples
from kgforge.lineage import materialize_triples, verify_lineage


@pytest.fixture(params=["parquet", "sink"])
def catalog_of(request, spark):
    """Parametrizes every resume test over the sink protocol: the
    catalog= string flag AND an injected TripleSink instance must
    behave identically."""

    def make(path, n_buckets=8):
        if request.param == "sink":
            return ParquetLedgerSink(spark, path, n_buckets)
        return "parquet"

    return make


def _triples(spark, n=500):
    return spark.range(n).select(
        F.concat(F.lit("urn:s"), (F.col("id") % 97).cast("string")).alias("subj"),
        F.lit("urn:p").alias("pred"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
    )


def _drop_ledger_rows(spark, path, buckets):
    """Rewrite the ledger without the `buckets`' rows, read through the
    sink and written back in its schema."""
    lin = (
        ParquetLedgerSink(spark, path)
        .ledger("materialize")
        .filter(~F.col("bucket").isin(*buckets))
        .collect()
    )
    shutil.rmtree(os.path.join(path, "_lineage"))
    spark.createDataFrame(lin, ParquetLedgerSink.LINEAGE_SCHEMA).write.parquet(
        os.path.join(path, "_lineage")
    )


def test_materialize_and_audit(spark, tmp_path, catalog_of):
    path = str(tmp_path / "t1")
    m = materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    assert m["buckets_written"] == 8 and m["rows_written"] == 500
    assert verify_lineage(spark, path)
    assert spark.read.parquet(path).count() == 500


def test_sink_opens_without_a_job(spark, tmp_path, count_jobs):
    """The sink opens its table and ledger with the schemas it owns: no
    schema-inference job per open, and the same rows and types."""
    path = str(tmp_path / "open")
    materialize_triples(_triples(spark), path, n_buckets=8)
    sink = ParquetLedgerSink(spark, path)
    jobs, (table, ledger) = count_jobs(lambda: (sink.read_buckets(None), sink.ledger("materialize")))
    assert jobs == 0
    assert table.schema == spark.read.parquet(path).schema
    assert ledger.schema.simpleString() == spark.read.parquet(f"{path}/_lineage").schema.simpleString()
    assert table.count() == 500 and ledger.count() == 8


def test_wide_table_opens_without_a_listing_job(spark, tmp_path, count_jobs):
    """A 64-bucket table has more bucket dirs than Spark lists on the
    driver by default (32), and Spark lists the rest in a job of its
    own: the sink opens it with 0 jobs, whole or by bucket, and leaves
    the session's listing threshold as it found it."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    path = str(tmp_path / "wide")
    triples = spark.range(3000).select(
        F.concat(F.lit("urn:s"), (F.col("id") % 997).cast("string")).alias("subj"),
        F.lit("urn:p").alias("pred"),
        F.col("id").cast("string").alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
    )
    materialize_triples(triples, path, n_buckets=64)
    sink = ParquetLedgerSink(spark, path)
    assert len(sink.bucket_census()) > 32
    saved = spark.conf.get(key)
    jobs, (table, some) = count_jobs(lambda: (sink.read_buckets(None), sink.read_buckets([0, 1])))
    assert jobs == 0
    assert spark.conf.get(key) == saved
    assert table.count() == 3000
    assert some.count() == table.filter(F.col("subj_bucket").isin(0, 1)).count() > 0
    assert verify_lineage(spark, path)


def test_resume_is_noop_when_complete(spark, tmp_path, catalog_of):
    path = str(tmp_path / "t2")
    materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    m2 = materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    assert m2["buckets_written"] == 0 and m2["buckets_skipped"] == 8
    assert spark.read.parquet(path).count() == 500
    assert verify_lineage(spark, path)


def test_resume_repairs_torn_bucket(spark, tmp_path, catalog_of):
    path = str(tmp_path / "t3")
    materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    full = spark.read.parquet(path).count()

    # simulate a crash: bucket 3 written but its lineage row lost —
    # rewrite the ledger without bucket 3 (torn state)
    _drop_ledger_rows(spark, path, [3])

    m = materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    assert m["buckets_repaired"] == [3]
    assert m["buckets_written"] == 1 and m["buckets_skipped"] == 7
    assert spark.read.parquet(path).count() == full  # no dupes, no loss
    assert verify_lineage(spark, path)
    ledger = ParquetLedgerSink(spark, path).ledger("materialize")
    assert {r.bucket for r in ledger.collect()} == set(range(8))


def test_missing_buckets_resume(spark, tmp_path, catalog_of):
    """Kill both files and ledger rows for two buckets → resume rewrites
    exactly those."""
    path = str(tmp_path / "t4")
    materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    full = spark.read.parquet(path).count()
    for b in (1, 5):
        shutil.rmtree(os.path.join(path, f"subj_bucket={b}"))
    _drop_ledger_rows(spark, path, [1, 5])

    m = materialize_triples(_triples(spark), path, n_buckets=8, catalog=catalog_of(path))
    assert m["buckets_written"] == 2 and m["buckets_skipped"] == 6
    assert spark.read.parquet(path).count() == full
    assert verify_lineage(spark, path)


def test_stray_bucket_dir_survives_and_fails_audit(spark, tmp_path):
    """A subj_bucket=__HIVE_DEFAULT_PARTITION__ dir (a historical
    NULL-subject write) neither crashes the bucket census nor is
    repaired away; its rows are in no ledger bucket, so the audit fails."""
    path = str(tmp_path / "stray")
    stray = os.path.join(path, "subj_bucket=__HIVE_DEFAULT_PARTITION__")
    spark.createDataFrame(
        [(f"urn:x{i}", "urn:p", "v", None) for i in range(3)],
        "subj string, pred string, obj string, obj_dt string",
    ).coalesce(1).write.parquet(stray)

    m = materialize_triples(_triples(spark), path, n_buckets=8)
    assert m["buckets_written"] == 8 and m["rows_written"] == 500
    assert spark.read.parquet(stray).count() == 3
    assert verify_lineage(spark, path) is False


def _bucket3_data_file(path):
    bucket = os.path.join(path, "subj_bucket=3")
    return os.path.join(bucket, sorted(f for f in os.listdir(bucket) if f.endswith(".parquet"))[0])


def _delete_one_data_file(spark, path):
    os.remove(_bucket3_data_file(path))


def _rewrite_one_value(spark, path):
    """Same row count, one object changed: only the checksum differs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    victim = _bucket3_data_file(path)
    table = pq.ParquetFile(victim).read()
    obj = ["tampered"] + table.column("obj").to_pylist()[1:]
    i = table.schema.get_field_index("obj")
    pq.write_table(table.set_column(i, "obj", pa.array(obj, pa.string())), victim)
    # drop the Hadoop checksum sidecar, which no longer matches
    head, name = os.path.split(victim)
    os.remove(os.path.join(head, f".{name}.crc"))


def _append_row_outside(spark, path):
    from kgforge.io.catalog import subj_bucket

    row = spark.createDataFrame(
        [("urn:s1", "urn:p", "extra", None)],
        "subj string, pred string, obj string, obj_dt string",
    )
    row.withColumn("subj_bucket", subj_bucket(8)).write.mode("append").partitionBy(
        "subj_bucket"
    ).parquet(path)


@pytest.mark.parametrize(
    "tamper, stage",
    [
        (_delete_one_data_file, "materialize"),
        (_append_row_outside, "materialize"),
        (_rewrite_one_value, "materialize"),
        (None, "no_such_stage"),
    ],
    ids=["data_file_deleted", "row_appended", "value_rewritten", "stage_without_ledger"],
)
def test_audit_detects_mismatch(spark, tmp_path, tamper, stage):
    """The audit fails when storage and ledger disagree: a bucket's data
    file is gone, a row was written outside materialize_triples, a value
    was rewritten in place, or the stage has no ledger rows at all."""
    path = str(tmp_path / "tampered")
    materialize_triples(_triples(spark), path, n_buckets=8)
    assert verify_lineage(spark, path)
    if tamper is not None:
        tamper(spark, path)
    assert verify_lineage(spark, path, stage=stage) is False


def test_iceberg_sink_error_path(spark, tmp_path):
    """Without the Iceberg runtime jar the iceberg catalog must refuse
    cleanly BEFORE touching storage, with an actionable message."""
    import os

    target = str(tmp_path / "ice")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        materialize_triples(_triples(spark), target, catalog="iceberg")
    assert not os.path.exists(target)  # refused before any write

    with pytest.raises(ValueError, match="unknown catalog"):
        materialize_triples(_triples(spark), str(tmp_path / "bogus"), catalog="nope")


def test_rebalanced_write_splits_hub_bucket(spark, tmp_path):
    """Head-entity skew: a mega-hub subject puts ~87% of the rows in
    one subj_bucket. With the advisory size (48 KB) below that bucket's
    shuffle bytes (over 160 KB) and above every cold shuffle
    partition's (under 16 KB, lz4-compressed, local[4]), the
    rebalanced write splits the hot bucket over several write tasks
    (≥ 2 files in its dir) and keeps each cold bucket in one file, with
    the IDENTICAL table a default-size write makes, a passing audit and
    unchanged resume semantics."""
    hub = spark.range(20000).select(
        F.lit("urn:hub").alias("subj"),
        F.lit("urn:partner_of").alias("pred"),
        F.concat(F.lit("urn:o"), F.col("id").cast("string")).alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
        F.concat(F.lit("https://ex/p"), F.col("id").cast("string")).alias("prov_url"),
    )
    tail = spark.range(3000).select(
        F.concat(F.lit("urn:s"), (F.col("id") % 500).cast("string")).alias("subj"),
        F.lit("urn:p").alias("pred"),
        F.concat(F.lit("urn:v"), F.col("id").cast("string")).alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
        F.concat(F.lit("https://ex/q"), F.col("id").cast("string")).alias("prov_url"),
    )
    triples = hub.unionByName(tail)

    plain, split = str(tmp_path / "plain"), str(tmp_path / "split")
    # high max_records_per_file so file count reflects TASKS, not size
    materialize_triples(triples, plain, n_buckets=16, max_records_per_file=10**7)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "48KB")
    try:
        m = materialize_triples(triples, split, n_buckets=16, max_records_per_file=10**7)
    finally:
        spark.conf.set(key, saved)
    assert m["rows_written"] == 23000
    assert verify_lineage(spark, split)

    a = {tuple(r) for r in spark.read.parquet(plain).drop("subj_bucket").collect()}
    b = {tuple(r) for r in spark.read.parquet(split).drop("subj_bucket").collect()}
    assert a == b  # identical table either way

    hub_bucket = spark.read.parquet(split).filter(
        F.col("subj") == "urn:hub"
    ).select("subj_bucket").first()[0]
    files = {}
    for f in _data_files(split):
        files.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
    assert len(files.pop(f"subj_bucket={hub_bucket}")) >= 2  # the hot bucket split
    assert len(files) == 15 and all(len(v) == 1 for v in files.values()), files

    # resume semantics unchanged
    m2 = materialize_triples(triples, split, n_buckets=16, max_records_per_file=10**7)
    assert m2["buckets_written"] == 0 and m2["buckets_skipped"] == 16


def _data_files(base):
    return [
        os.path.join(d, f)
        for d in os.listdir(base) if d.startswith("subj_bucket=")
        for f in os.listdir(os.path.join(base, d)) if f.startswith("part-")
    ]


@pytest.mark.parametrize(
    "write",
    [
        lambda df, path: write_triples(df, path, n_buckets=8),
        lambda df, path: materialize_triples(df, path, n_buckets=8),
        lambda df, path: materialize_triples(df, path, n_buckets=8, salt_partitions=4),
    ],
    ids=["write_triples", "materialize", "materialize_salted"],
)
def test_data_files_sorted(spark, tmp_path, write):
    """Every data file of a bucketed write is sorted on (subj, pred,
    obj), the order subject min/max row-group pruning relies on."""
    import pyarrow.parquet as pq

    triples = spark.range(2000).select(
        F.concat(F.lit("urn:s"), (F.col("id") % 50).cast("string")).alias("subj"),
        F.concat(F.lit("urn:p"), (F.col("id") % 3).cast("string")).alias("pred"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
    )
    path = str(tmp_path / "sorted")
    write(triples, path)
    files = _data_files(path)
    assert files
    for f in files:
        cols = pq.read_table(
            os.path.join(path, f), columns=["subj", "pred", "obj"]
        ).to_pydict()
        rows = list(zip(cols["subj"], cols["pred"], cols["obj"]))
        assert rows == sorted(rows), f


def test_rebalanced_write_one_file_per_bucket(spark, tmp_path):
    """AQE coalesces the rebalanced write's small buckets into few
    tasks without splitting any: a write of uniform triples makes
    exactly one file per bucket, with or without the ignored
    salt_partitions, the same rows and a passing audit."""
    triples = spark.range(4000).select(
        F.concat(F.lit("urn:s"), (F.col("id") % 400).cast("string")).alias("subj"),
        F.lit("urn:p").alias("pred"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("obj"),
        F.lit(None).cast("string").alias("obj_dt"),
    )
    plain, salted = str(tmp_path / "plain"), str(tmp_path / "salted")
    materialize_triples(triples, plain, n_buckets=8)
    m = materialize_triples(triples, salted, n_buckets=8, salt_partitions=32)
    assert m["buckets_written"] == 8 and m["rows_written"] == 4000
    assert verify_lineage(spark, salted)
    for path in (plain, salted):
        assert len(_data_files(path)) == 8

    a = sorted(tuple(r) for r in spark.read.parquet(plain).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(salted).collect())
    assert a == b


@pytest.mark.parametrize("salt", [None, 32])
def test_null_subject_write_fails_clean(spark, tmp_path, salt):
    """A NULL subj would land in __HIVE_DEFAULT_PARTITION__ and wedge
    every later resume: the write job raises, whatever salt_partitions
    says, and leaves no bucket dir and no ledger behind."""
    null_row = spark.createDataFrame(
        [(None, "urn:p", "v", None)],
        "subj string, pred string, obj string, obj_dt string",
    )
    path = str(tmp_path / "nulls")
    with pytest.raises(SparkRuntimeException, match="NULL subj is not writable"):
        materialize_triples(
            _triples(spark).unionByName(null_row), path, n_buckets=8, salt_partitions=salt
        )
    left = os.listdir(path) if os.path.exists(path) else []
    assert not [d for d in left if d.startswith("subj_bucket=") or d == "_lineage"]


class _OrcSink(TripleSink):
    """A sink with another layout: ORC data under <root>/data and a JSON
    ledger under <root>/ledger. Nothing at <root> reads as parquet, so
    only an audit that goes through the sink protocol can check it."""

    def __init__(self, spark, root):
        self.spark, self.data, self.led = spark, os.path.join(root, "data"), os.path.join(root, "ledger")

    def ledger(self, stage):
        if not os.path.exists(self.led):
            return None
        return (
            self.spark.read.schema(ParquetLedgerSink.LINEAGE_SCHEMA)
            .json(self.led)
            .filter(F.col("stage") == stage)
        )

    def repair(self, done):
        torn = sorted(self.bucket_census() - done)
        for b in torn:
            shutil.rmtree(os.path.join(self.data, f"subj_bucket={b}"))
        return torn

    def append(self, df, max_records_per_file):
        df.write.mode("append").partitionBy("subj_bucket").orc(self.data)

    def bucket_census(self):
        if not os.path.exists(self.data):
            return set()
        return {int(n.split("=")[1]) for n in os.listdir(self.data) if n.startswith("subj_bucket=")}

    def read_buckets(self, buckets):
        table = self.spark.read.orc(self.data)
        return table if buckets is None else table.filter(F.col("subj_bucket").isin(buckets))

    def commit(self, stage, lineage_rows):
        self.spark.createDataFrame(lineage_rows, ParquetLedgerSink.LINEAGE_SCHEMA).write.mode(
            "append"
        ).json(self.led)


def test_audit_through_sink_instance(spark, tmp_path):
    """verify_lineage takes the same catalog= as materialize_triples and
    audits a non-parquet TripleSink through the protocol: it passes on
    the written table and fails once a row lands outside the ledger."""
    root = str(tmp_path / "orc")
    sink = _OrcSink(spark, root)
    m = materialize_triples(_triples(spark), root, n_buckets=8, catalog=sink)
    assert m["buckets_written"] == 8 and m["rows_written"] == 500
    assert verify_lineage(spark, root, catalog=sink)
    assert verify_lineage(spark, root, stage="other", catalog=sink) is False

    from kgforge.io.catalog import subj_bucket

    sink.append(_triples(spark, 1).withColumn("subj_bucket", subj_bucket(8)), 0)
    assert verify_lineage(spark, root, catalog=sink) is False
    # the iceberg binding refuses cleanly when its runtime jar is absent
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        verify_lineage(spark, root, catalog="iceberg")
