"""Head-entity skew demonstration (north rule: skew-safe bucketed
writes for head-entity skew).

Fixture: a corpus where ONE canonical entity appears as subject on
~hub_frac of all pages (default 30%). Protocol:

  phase A (once):   pages → extract → mentions → link → canonical map,
                    all materialized to parquet (shared by both
                    variants; its event log shows the join stages)
  phase B (×2):     mentions + cmap → rewrite(collapse_prov=False) →
                    materialize, each in a fresh JVM with the Spark
                    event log enabled. The write rebalances on
                    subj_bucket, and AQE splits a bucket larger than
                    spark.sql.adaptive.advisoryPartitionSizeInBytes:
                    variant "default" runs Spark's default size (64 MB),
                    variant "small" the size given by --small-advisory,
                    passed through get_spark's extra_conf.

Analysis: per-task records/time skew (bench.task_skew) for the
rewrite-join, full-row-dedup, and bucketed-write stages. Pass = the
bucketed-write stage's max/median per-task records within ~2× in the
"small" run, while the "default" write keeps the hub bucket in one
straggler task when that bucket is under 64 MB. The closing summary
(also `evidence` in skew_results.json) gives each variant's data-file
count, its bucketed-write stage's max/median records and its audit.

    python bench/skew_demo.py --pages 4000000 --cores 32 \
        --workdir /tmp/kgforge_skew
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PHASE_A = """
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from kgforge.session import get_spark
from kgforge.web.canon import canonical_map
from kgforge.web.extract import extract_text
from kgforge.web.linking import link_surfaces
from kgforge.web.mentions import extract_mention_triples
from kgforge.web.pipeline import surfaces_of

spark = get_spark(app_name="skew-phaseA", master="local[{cores}]",
                  shuffle_partitions=32,
                  extra_conf={{"spark.ui.showConsoleProgress": "false",
                              "spark.eventLog.enabled": "true",
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.dir": {elog_a!r},
                              "spark.sql.files.maxPartitionBytes": str(64 << 20)}})
t0 = time.perf_counter()
pages = spark.read.parquet({pages!r})
extracted = extract_text(pages, "html", "text_extracted").select(
    "url", "warc_ts", F.col("text_extracted").alias("text"), "lang")
extracted.write.mode("overwrite").parquet({work!r} + "/pages_text")
# dedup=False: keep one row per (mention, page) — the provenance-
# preserving north-rule table, where a mega-hub subject really does
# concentrate rows (dedup=True would collapse the hub to its distinct
# fact set and hide the skew the fixture plants)
mentions = extract_mention_triples(
    spark.read.parquet({work!r} + "/pages_text"), text_col="text", dedup=False)
mentions.write.mode("overwrite").parquet({work!r} + "/mentions")
mention_df = spark.read.parquet({work!r} + "/mentions")
surfaces = surfaces_of(mention_df).persist()
edges = link_surfaces(surfaces.select("surface"))
s1 = surfaces.select(F.col("surface").alias("a"), F.col("iri").alias("iri_a"))
s2 = surfaces.select(F.col("surface").alias("b"), F.col("iri").alias("iri_b"))
iri_edges = edges.join(s1, "a").join(s2, "b").select(
    F.col("iri_a").alias("a"), F.col("iri_b").alias("b"))
cmap = canonical_map(iri_edges, surfaces.select(F.col("iri").alias("node")))
cmap.write.mode("overwrite").parquet({work!r} + "/cmap")
print("PHASE_A_SEC", round(time.perf_counter() - t0, 1),
      "MENTIONS", mention_df.count())
spark.stop()
"""

_PHASE_B = """
import shutil, sys, time
sys.path.insert(0, {repo!r})
from kgforge.lineage import materialize_triples, verify_lineage
from kgforge.session import get_spark
from kgforge.web.canon import rewrite_triples

spark = get_spark(app_name="skew-{name}", master="local[{cores}]",
                  shuffle_partitions=32,
                  extra_conf={{"spark.ui.showConsoleProgress": "false",
                              "spark.eventLog.enabled": "true",
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.dir": {elog!r}, **{conf!r}}})
t0 = time.perf_counter()
mentions = spark.read.parquet({work!r} + "/mentions")
cmap = spark.read.parquet({work!r} + "/cmap")
canonical = rewrite_triples(mentions, cmap, collapse_prov=False)
out = {work!r} + "/triples_{name}"
shutil.rmtree(out, ignore_errors=True)
m = materialize_triples(canonical, out, n_buckets=64)
print("PHASE_B_SEC", round(time.perf_counter() - t0, 1),
      "ROWS", m["rows_written"], "AUDIT", verify_lineage(spark, out))
spark.stop()
"""


def _run(script: str, tag: str) -> str:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=REPO
    )
    out = "\n".join(
        ln for ln in (proc.stdout + proc.stderr).splitlines()
        if ln.startswith(("PHASE_", "ROWS", "Traceback")) or "Error" in ln
    )
    print(f"[{tag}] rc={proc.returncode} {round(time.perf_counter()-t0,1)}s :: {out[:400]}")
    if proc.returncode != 0:
        print(proc.stderr[-3000:])
        raise SystemExit(1)
    return proc.stdout


def _only_eventlog(d: str) -> str:
    files = [f for f in os.listdir(d) if not f.startswith(".")]
    assert len(files) == 1, files
    return os.path.join(d, files[0])


def _data_files(table: str) -> int:
    """Parquet data files under a bucketed table's subj_bucket= dirs."""
    return sum(
        f.startswith("part-")
        for d in os.listdir(table) if d.startswith("subj_bucket=")
        for f in os.listdir(os.path.join(table, d))
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=4_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--hub-frac", type=float, default=0.3)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--workdir", default="/tmp/kgforge_skew")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--small-advisory", default="1m",
                    help="advisory partition size of the 'small' variant")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from kgforge.web.corpus import corpus_to_parquet

    os.makedirs(args.workdir, exist_ok=True)
    pages_path = (
        f"{args.workdir}/web_pages_{args.pages}_{args.seed}_hub{args.hub_frac}.parquet"
    )
    if not os.path.exists(pages_path) and not args.skip_gen:
        t0 = time.perf_counter()
        corpus_to_parquet(pages_path, args.pages, args.seed, hub_frac=args.hub_frac)
        print(f"[gen] {args.pages} pages in {round(time.perf_counter()-t0,1)}s")

    import shutil

    elog_a = f"{args.workdir}/elog_a"
    shutil.rmtree(elog_a, ignore_errors=True)
    os.makedirs(elog_a, exist_ok=True)
    _run(
        _PHASE_A.format(
            repo=REPO, cores=args.cores, pages=pages_path,
            work=args.workdir, elog_a="file://" + elog_a,
        ),
        "phaseA",
    )

    sys.path.insert(0, os.path.join(REPO, "bench"))
    from task_skew import stage_skew

    results = {"pages": args.pages, "hub_frac": args.hub_frac, "cores": args.cores}
    evidence = {}
    small = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": args.small_advisory}
    for name, conf in (("default", {}), ("small", small)):
        elog = f"{args.workdir}/elog_{name}"
        shutil.rmtree(elog, ignore_errors=True)
        os.makedirs(elog, exist_ok=True)
        out = _run(
            _PHASE_B.format(
                repo=REPO, cores=args.cores, work=args.workdir,
                elog="file://" + elog, name=name, conf=conf,
            ),
            name,
        )
        all_stages = stage_skew(_only_eventlog(elog))
        # the bucketed write is the stage that writes the table's rows
        # (the ledger commit writes a handful on one task)
        write = max(all_stages, key=lambda s: s["output_records"])
        evidence[name] = {
            "data_files": _data_files(f"{args.workdir}/triples_{name}"),
            "write_stage_id": write["stage_id"],
            "write_records_median": write["records_median"],
            "write_records_max": write["records_max"],
            "write_records_ratio": write["records_ratio"],
            "audit": "AUDIT True" in out,
        }
        stages = [s for s in all_stages if s["n_tasks"] >= 8]
        results[name] = stages
        print(f"\n== {name}: per-task skew (stages with ≥8 tasks) ==")
        for s in stages:
            print(
                f"  [{s['stage_id']:>3}] tasks={s['n_tasks']:>3} "
                f"rec med/max={s['records_median']:.0f}/{s['records_max']} "
                f"(ratio {s['records_ratio']}) "
                f"ms med/max={s['ms_median']:.0f}/{s['ms_max']} "
                f"(ratio {s['ms_ratio']}) {s['name'][:60]}"
            )

    results["evidence"] = evidence
    print("\n== bucketed write: data files, write-stage records max/median ==")
    for name, e in evidence.items():
        print(
            f"  {name:>8}: files={e['data_files']} "
            f"rec med/max={e['write_records_median']:.0f}/{e['write_records_max']} "
            f"(ratio {e['write_records_ratio']}) AUDIT {e['audit']}"
        )

    with open(f"{args.workdir}/skew_results.json", "w") as f:
        json.dump(results, f, indent=1)
    print(f"\nwrote {args.workdir}/skew_results.json")


if __name__ == "__main__":
    main()
