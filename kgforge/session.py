"""SparkSession factory with scale-oriented defaults.

All engine entry points accept an externally built session; this module
only centralizes the config we want everywhere: Arrow-backed pandas
UDFs, AQE (runtime coalescing + skew-join splitting), a shuffle
partition count sized to the parallelism level instead of the 200
default (which at local[8..32] just creates tiny-task overhead, and on
a 1000-executor cluster is overridden by AQE coalescing anyway), AQE
coalescing of persisted plans too (Spark otherwise keeps a cached plan's
last stage, and every stage reading it, at ``shuffle.partitions``
tasks), and a generated-code cache sized to kgforge's plans.

The codegen cache (``spark.sql.codegen.cache.maxEntries``) is Spark's
LRU map from generated Java source to its Janino-compiled class; a plan
whose source is already there skips the compile. Spark's default of 100
entries is smaller than one web pipeline run (``run_pipeline`` +
``materialize_triples``: about 135 classes), so every class is evicted
before its next use and each warm run recompiles 110-114 of them; the
dedup trio needs about 230, a csv mapping 34 and a SPARQL query 10-20.
1000 holds all of them at once with headroom. It is a static conf, read
once per JVM when Spark first generates code: it is ignored when
``getOrCreate`` returns a live session, and a caller overrides it
through ``extra_conf={"spark.sql.codegen.cache.maxEntries": ...}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with kgforge defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster pass None and let spark-submit own it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cores = _local_cores(master)
        shuffle_partitions = 200 if cores is None else max(cores, 4)

    # Python workers (pandas UDF stages) don't inherit the driver's
    # sys.path — ship the package root via PYTHONPATH so launching from
    # any cwd works. On a real cluster, spark-submit --py-files
    # kgforge.zip provides the same (kgforge/tools/package.py builds it).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pythonpath = os.pathsep.join(
        p for p in [repo_root, os.environ.get("PYTHONPATH", "")] if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # warm runs recompile every generated class when a run's working
        # set (web pipeline ~135, dedup trio ~230) exceeds the default
        # 100-entry LRU; see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # let AQE coalesce the final stage of a persisted plan
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # deterministic float behavior for oracle comparisons
        .config("spark.sql.legacy.allowNegativeScaleOfDecimal", "true")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.driver.memory", os.environ.get("KGFORGE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", os.environ.get("KGFORGE_UI", "false"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_cores(master: str) -> int | None:
    """Core count of a ``local`` master: ``local`` is 1, ``local[*]`` 32
    (the width assumed when it is unknown), ``local[N]`` and
    ``local[N,F]`` (N threads, F task failures) N. None for a cluster
    master."""
    if master == "local":
        return 1
    if not (master.startswith("local[") and master.endswith("]")):
        return None
    threads = master[len("local[") : -1].split(",")[0].strip()
    return 32 if threads == "*" else int(threads)


def local_df(spark, rows, schema):
    """Driver-small local relation as a TRUE LocalRelation.

    `createDataFrame(list, schema)` goes through RDD parallelize and
    materializes `spark.default.parallelism` (32) near-empty slices
    that multiply through downstream unions into hundreds of no-op
    tasks; the pandas path (Arrow) plans as a LocalRelation /
    LocalTableScan — no job, no empty partitions. Use for
    schema-sized data only (the rows live on the driver)."""
    import pandas as pd

    if isinstance(schema, str):
        # "name type, name type" DDL — first token of each field; a
        # comma inside a composite type (map<string,int>) is out of
        # scope for driver-small relations
        cols = [f.strip().split(" ")[0] for f in schema.split(",")]
    else:  # StructType
        cols = schema.fieldNames()
    return spark.createDataFrame(
        pd.DataFrame(rows or None, columns=cols), schema
    )


def is_local(df) -> bool:
    """True when the optimizer folds `df` to a LocalRelation: its rows
    come back from `collect()` with no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def bounded_arrow(df, n: int):
    """The rows of `df` as a `pyarrow.Table`, or None when it has more
    than `n` — the bounded probe behind every driver-sized fast path
    (closures, reachability, union-find): it both decides the size
    class and fetches the rows.

    `limit(n + 1).toArrow()` is ONE Spark job over a scan: Arrow
    collection runs the limited plan over every partition at once
    (each stops after n + 1 rows, one task gathers them); a shuffle
    below the limit adds its own stage's job. `limit(n + 1).collect()`
    is Spark's incremental take instead — one partition, then 4x as
    many, then the rest, each round its own job — so it fired 2-3 jobs
    on a multi-partition scan for the same rows. A plan the optimizer
    folds to a local relation (driver-built rows, filtered) is the one
    case `collect()` serves with no job at all, where Arrow collection
    would still launch one. A DataFrame with no columns (an all-constant
    SPARQL pattern) comes back as one boolean column `_`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not df.columns:
        # Arrow batches with no columns carry no row count (toArrow
        # reports 0 rows for any input), so count a constant column
        df = df.selectExpr("true AS _")
    lim = df.limit(n + 1)
    if is_local(lim):
        table = pa.Table.from_pylist(
            [r.asDict() for r in lim.collect()], schema=to_arrow_schema(lim.schema)
        )
    else:
        table = lim.toArrow()
    return None if table.num_rows > n else table


def arrow_rows(table, *cols: str) -> list[tuple]:
    """`cols` of a `bounded_arrow` table as row tuples."""
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal, for expressions composed as
    SQL text and parsed on the JVM in one call (`F.expr`/`selectExpr`)
    instead of one py4j round trip per Column-API node."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
