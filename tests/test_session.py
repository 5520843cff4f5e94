"""Session factory: the generated-code cache holds a pipeline run's
classes, and every valid local master sizes the shuffle."""

from __future__ import annotations

import pytest

from kgforge.session import _local_cores


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_warm_pipeline_runs_reuse_generated_classes(spark, tmp_path):
    """A run of run_pipeline + materialize_triples generates ~130
    classes. With Spark's default 100-entry cache every warm run
    recompiled over 100 of them; the session's cache keeps them. A warm
    run can still compile a few: AQE numbers codegen stages in the
    order it plans them, the number is part of the generated class
    name, and under host load that order varies (one run of [130, 0,
    16] seen), so the better of the two warm runs is checked."""
    from kgforge.lineage import materialize_triples
    from kgforge.profile import SCALE
    from kgforge.web.corpus import corpus_to_parquet
    from kgforge.web.pipeline import run_pipeline, unpersist_intermediates

    # read from parquet: a createDataFrame(list) input recompiles part
    # of its plan on every run whatever the cache size
    pages_path = str(tmp_path / "pages")
    corpus_to_parquet(pages_path, 300, seed=7, rows_per_file=100, hub_frac=0.05)
    compiled = []
    for i in range(3):
        before = _compiles(spark)
        res = run_pipeline(spark.read.parquet(pages_path), text_from_html=True,
                           persist_intermediate=True, profile=SCALE)
        m = materialize_triples(res["canonical_triples"], str(tmp_path / f"out{i}"),
                                n_buckets=8, salt_partitions=SCALE.salt_partitions)
        unpersist_intermediates(res)
        assert m["rows_written"] > 0
        compiled.append(_compiles(spark) - before)
    assert min(compiled[1:]) <= compiled[0] // 10, compiled


@pytest.mark.parametrize("master, cores", [
    ("local", 1),
    ("local[2]", 2),
    ("local[*]", 32),
    ("local[4,3]", 4),
    ("local[*,2]", 32),
    ("spark://h:7077", None),
])
def test_local_cores(master, cores):
    assert _local_cores(master) == cores


def test_bounded_arrow_one_job(spark, tmp_path, count_jobs):
    """`bounded_arrow` fetches a 4-partition scan in ONE job, where the
    same rows through `limit(n + 1).collect()` take Spark's incremental
    take (a job per round), and driver-local rows in none; it returns
    the rows at or under `n` and None above."""
    from kgforge.session import arrow_rows, bounded_arrow, local_df

    path = str(tmp_path / "scan")
    spark.range(400).selectExpr("CAST(id AS STRING) AS k").repartition(4).write.parquet(path)
    df = spark.read.schema("k string").parquet(path)
    assert df.rdd.getNumPartitions() == 4
    jobs, table = count_jobs(lambda: bounded_arrow(df, 400))
    assert jobs == 1
    assert sorted(int(k) for (k,) in arrow_rows(table, "k")) == list(range(400))
    assert count_jobs(lambda: df.limit(401).collect())[0] >= 2
    assert count_jobs(lambda: bounded_arrow(df, 399)) == (1, None)
    empty = bounded_arrow(df.filter("k = 'none'"), 0)
    assert empty is not None and empty.num_rows == 0
    # rows with no columns still count
    assert bounded_arrow(df.select(), 400).num_rows == 400
    assert bounded_arrow(df.select(), 399) is None

    local = local_df(spark, [("a", 1), ("b", None), ("c", 3)], "k string, v long")
    jobs, table = count_jobs(lambda: bounded_arrow(local.filter("k != 'c'"), 2))
    assert jobs == 0 and arrow_rows(table, "k", "v") == [("a", 1), ("b", None)]
    assert table.schema.field("v").type == "int64"
    assert count_jobs(lambda: bounded_arrow(local, 2)) == (0, None)


def test_cached_pipeline_tables_read_in_one_task(spark, tmp_path, stage_tasks):
    """AQE coalesces the last stage of a persisted plan too: after a
    persisted run_pipeline + materialize_triples run on a 300-page
    corpus, every stage of a job over the cached mention or surface
    table runs one task. Spark's default keeps a cached plan's
    shuffle.partitions width (4 tasks here)."""
    from kgforge.lineage import materialize_triples
    from kgforge.profile import SCALE
    from kgforge.web.corpus import corpus_to_parquet
    from kgforge.web.pipeline import run_pipeline, unpersist_intermediates

    pages_path = str(tmp_path / "pages")
    corpus_to_parquet(pages_path, 300, seed=42, rows_per_file=100, hub_frac=0.05)
    res = run_pipeline(spark.read.parquet(pages_path), text_from_html=True,
                       persist_intermediate=True, profile=SCALE)
    try:
        m = materialize_triples(res["canonical_triples"], str(tmp_path / "out"), n_buckets=8)
        assert m["rows_written"] > 0
        for key in ("mention_triples", "surfaces"):
            tasks = stage_tasks(res[key].count)
            assert tasks and set(tasks) == {1}, (key, tasks)
    finally:
        unpersist_intermediates(res)
