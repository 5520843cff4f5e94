"""Triple-table sinks.

Primary sink: parquet triple table bucket-partitioned by subject hash
(pmod(xxhash64(subj), n_buckets)), matching the north-star layout
(BASELINE.json). The hash-bucket column gives:
  * co-located self-joins on subj without a shuffle when both sides are
    bucket-pruned,
  * bounded file counts at 100 TB (buckets × maxRecordsPerFile),
  * head-entity skew diffusion: dedup already shuffles on the full
    triple, and the write partitioner works on the uniform hash.

Compat sink: sorted N-Triples text (S5) — exact serialization parity is
NOT a goal (correctness is triple-set P/R, SURVEY.md §1.1); the dump is
canonical (sorted) so diffs are reproducible.

20k-triple chunking (reference S6, csv2rdf-v3.py:124-166) maps to
`maxRecordsPerFile` — a config knob, not an operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.io.catalog import ParquetLedgerSink, subj_bucket


def write_triples(
    df: DataFrame,
    path: str,
    n_buckets: int = 64,
    max_records_per_file: int = 20000,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet write in the materialize_triples layout, without
    the ledger. `subj_bucket` is a stable uniform hash so downstream
    subject-keyed reads prune and parallelize evenly; each file is
    sorted on (subj, pred, obj) for min/max row-group pruning."""
    sink = ParquetLedgerSink(df.sparkSession, path, n_buckets)
    sink._write(
        df.withColumn("subj_bucket", subj_bucket(n_buckets)), max_records_per_file, mode
    )


def _object_term() -> F.Column:
    """RDF term text for the object slot: IRI when obj_dt is NULL,
    plain literal when '', typed literal otherwise (escaped)."""
    esc = F.col("obj")
    for src, dst in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        esc = F.replace(esc, F.lit(src), F.lit(dst))
    return (
        F.when(F.col("obj_dt").isNull(), F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
        .when(F.col("obj_dt") == "", F.concat(F.lit('"'), esc, F.lit('"')))
        .otherwise(F.concat(F.lit('"'), esc, F.lit('"^^<'), F.col("obj_dt"), F.lit(">")))
    )


def to_ntriples_lines(df: DataFrame) -> DataFrame:
    """Triple DF → one-column DF of N-Triples lines (unsorted).
    Pure column expressions — stays in codegen."""
    line = F.concat(
        F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
        _object_term(),
        F.lit(" ."),
    )
    return df.select(line.alias("line"))


def dump_ntriples(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Canonical (sorted) N-Triples dump."""
    to_ntriples_lines(df).sort("line").coalesce(1).write.mode(mode).text(path)


def to_turtle_lines(df: DataFrame) -> DataFrame:
    """Triple DF → (subj, rn, line) of grouped-by-subject Turtle (A5 +
    reference output shape, csv2rdf-v2.py:140-145: one block per
    subject, predicates `;`-chained, `.`-terminated).

    Entirely window expressions over a subj-partitioned shuffle — no
    collect_list, so a hub subject with millions of triples never
    materializes one giant row; the partition just sorts. Full IRIs in
    angle brackets (no prefix table — byte parity is waived, SURVEY
    §1.1; any Turtle parser reads this back to the identical set).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("subj").orderBy("pred", "obj", "obj_dt")
    rn = F.row_number().over(w)
    cnt = F.count(F.lit(1)).over(Window.partitionBy("subj"))
    head = F.when(rn == 1, F.concat(F.lit("<"), F.col("subj"), F.lit("> "))).otherwise(
        F.lit("    ")
    )
    tail = F.when(rn == cnt, F.lit(" .")).otherwise(F.lit(" ;"))
    line = F.concat(
        head, F.lit("<"), F.col("pred"), F.lit("> "), _object_term(), tail
    )
    return df.select("subj", rn.alias("rn"), line.alias("line"))


def dump_turtle(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Canonical (subject-sorted) Turtle dump — the S5 compat sink a
    user pointing Jena/Fuseki at the output expects
    (csv2rdf-v4/jena/test-conf.ttl:36-47)."""
    (
        to_turtle_lines(df)
        .sort("subj", "rn")
        .select("line")
        .coalesce(1)
        .write.mode(mode)
        .text(path)
    )
