"""Incremental ingestion via Structured Streaming.

The north-rule pipeline is batch (crawl snapshots), but a crawl FEED
is incremental: new page batches land in the input directory and only
they should be processed. Structured Streaming's file source +
checkpointing gives exactly the resume contract kgforge.lineage gives
batch jobs — processed files are recorded in the checkpoint, a crashed
job resumes without reprocessing, and `Trigger.AvailableNow` drains
whatever is pending then stops (the cron-style incremental run).

Two streams:

* `stream_mention_triples` — web_pages feed → extract → mention
  triples, append sink. Stateless (extraction and mention regexes are
  per-row), so it runs identically at any cluster size; global triple
  dedup is deliberately NOT done here — dedup is a compaction concern
  (kgforge.lineage.materialize_triples / dedup_exact) because a
  streaming global distinct would keep unbounded state.
* `stream_events_hourly` — the windowed rollup (events_hourly contract
  query) as a watermarked streaming aggregation: 1-hour tumbling
  windows, late events accepted up to the watermark, append mode
  emits each window once, when it closes.

`compact_mentions` is the other half of the stream's contract: the
global dedup the stream defers lands here, folding the raw append feed
into the deduped, bucketed, lineage-audited triple table via
copy-on-write snapshots (stream batch → compact → stream → compact is
equivalent to one batch run over everything; tested in
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.web.corpus import WEB_PAGES_SCHEMA
from kgforge.web.extract import extract_text
from kgforge.web.mentions import extract_mention_triples

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def stream_mention_triples(
    spark: SparkSession,
    pages_dir: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
    text_from_html: bool = True,
    dedup_within: str | None = None,
):
    """web_pages parquet feed → mention-triple parquet, incrementally.

    Returns the started StreamingQuery; with available_now=True the
    caller `awaitTermination()`s and the query drains pending files
    then stops. Re-running with the same checkpoint processes ONLY
    files that arrived since the last run (file-source resume).

    `dedup_within` (e.g. "1 hour"): BOUNDED-STATE streaming dedup —
    watermark on warc_ts + dropDuplicatesWithinWatermark on the triple
    key, so duplicate mentions of the same fact arriving within the
    horizon collapse to one row and the dedup state is evicted once
    the watermark passes (a plain streaming `distinct` would keep the
    whole key set forever). This is a volume reducer, not the dedup
    CONTRACT: which of the duplicate rows survives (its prov_url /
    warc_ts) is arrival-order-dependent, and duplicates farther apart
    than the horizon both land — `compact_mentions` still performs the
    deterministic global min-prov dedup at compaction time, unchanged."""
    pages = spark.readStream.schema(WEB_PAGES_SCHEMA).parquet(pages_dir)
    if text_from_html:
        extracted = extract_text(pages, "html", "text_extracted").select(
            "url", "warc_ts", F.col("text_extracted").alias("text"), "lang"
        )
    else:
        extracted = pages.select("url", "warc_ts", "text", "lang")
    mentions = extract_mention_triples(extracted, text_col="text", dedup=False)
    if dedup_within is not None:
        mentions = mentions.withWatermark(
            "warc_ts", dedup_within
        ).dropDuplicatesWithinWatermark(["subj", "pred", "obj", "obj_dt"])
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_hourly(
    spark: SparkSession,
    events_dir: str,
    out_path: str,
    checkpoint: str,
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Streaming tumbling-window rollup with late-data handling:
    (window_start, event_type, n, sum_value), append mode — a window
    row is emitted exactly once, when the watermark passes its end.
    The batch equivalent is the `events_hourly` contract query."""
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n", "sum_value")
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


MENTION_COLS = ["subj", "pred", "obj", "obj_dt", "prov_url", "warc_ts"]


def compact_mentions(
    spark: SparkSession,
    raw_path: str,
    table_root: str,
    n_buckets: int = 16,
    collapse_prov: bool = True,
):
    """Fold the streamed raw mention-triple feed into the deduped,
    bucketed triple table — the GLOBAL dedup `stream_mention_triples`
    deliberately defers (a streaming global distinct would keep
    unbounded state; a compaction pass is one bounded shuffle).

    Copy-on-write snapshot compaction: run k reads the FULL raw feed,
    dedups it — collapse_prov=True keeps one row per distinct triple
    with min provenance (the batch `extract_mention_triples(dedup=
    True)` contract); False keeps one row per (triple, provenance),
    the lineage-table shape — then materializes into a fresh snapshot
    dir <root>/snap_k with the standard bucket-level lineage machinery
    (kgforge.lineage.materialize_triples) and finally flips the
    <root>/_current pointer ATOMICALLY (tmp + rename — round-4 advice:
    the truncate-then-write flip could leave a torn/empty pointer).
    Readers (`read_compacted`) see the previous snapshot until the
    flip; a crashed run leaves the pointer untouched and either
    resumes bucket-by-bucket inside its snapshot or is superseded by
    the next compaction, which re-reads the full feed (nothing is ever
    lost to a torn run). The snapshot index k comes from LISTING the
    existing snap_* dirs — never from the pointer — so a crash between
    materialize and flip can't make the next run re-enter the orphaned
    snapshot dir (materialize_triples done-markers would then skip its
    stale buckets); the orphan is simply left behind and the next run
    opens snap_{k+1}. An empty or unparsable pointer (a torn flip on a
    filesystem without atomic rename-over) reads as "no snapshot yet".

    Scale posture: the full re-read per compaction is the
    parquet-ledger realization — right when compactions are spaced so
    the raw feed stays O(table). The Iceberg sink binds the same
    protocol to snapshot commits (pointer flip == snapshot commit);
    callers prune the raw feed to the compaction horizon.

    Returns (snapshot_path, materialize metrics)."""
    from kgforge.io.fs import list_dir_names, write_text_atomic
    from kgforge.lineage import materialize_triples

    root = table_root.rstrip("/")
    ptr = root + "/_current"
    existing = [
        int(name.rsplit("_", 1)[1])
        for name in list_dir_names(spark, root)
        if name.startswith("snap_") and name.rsplit("_", 1)[1].isdigit()
    ]
    k = max(existing) + 1 if existing else 0
    snap = f"{root}/snap_{k}"

    raw = spark.read.parquet(raw_path).select(*MENTION_COLS)
    if collapse_prov:
        deduped = raw.groupBy("subj", "pred", "obj", "obj_dt").agg(
            F.min("prov_url").alias("prov_url"),
            F.min("warc_ts").alias("warc_ts"),
        )
    else:
        deduped = raw.dropDuplicates(MENTION_COLS)
    metrics = materialize_triples(
        deduped,
        snap,
        stage="compact",
        n_buckets=n_buckets,
    )
    write_text_atomic(spark, ptr, f"snap_{k}")
    return snap, metrics


def read_compacted(spark: SparkSession, table_root: str) -> DataFrame | None:
    """The current compacted snapshot (None before first compaction;
    an empty or unparsable pointer — a torn flip on a filesystem
    without atomic rename-over — also reads as None rather than
    pointing the parquet reader at the table root)."""
    from kgforge.io.fs import path_exists, read_text

    root = table_root.rstrip("/")
    ptr = root + "/_current"
    if not path_exists(spark, ptr):
        return None
    target = read_text(spark, ptr).strip()
    if not target.startswith("snap_") or not path_exists(spark, f"{root}/{target}"):
        return None
    return spark.read.parquet(f"{root}/{target}")
