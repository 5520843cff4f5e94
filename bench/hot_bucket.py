"""Adversarial hot-bucket benchmark: the census guards under fire.

Fixture = the two degenerate corpora from the round-3 verdict, planted
at measurable scale:

  * documents: n_docs random texts + n_doc_pile EMPTY docs — every
    empty doc hashes to simhash 0, so all of them share all four
    (chunk, 0) band keys: a self-join of those keys emits
    4·C(pile, 2) rows from four keys.
  * vectors: n_vecs random 64-dim embeddings + n_vec_pile EXACT
    duplicates — the pile lands in ONE sign bucket per table, so a
    self-join emits n_tables·C(pile, 2) rows from three keys.

Protocol (same as bench/skew_demo.py): each leg runs in a fresh JVM
with the Spark event log on; analysis reports wall seconds, output
pair count, and per-task max/median records/time skew for the heavy
stages (bench.task_skew). The "unguarded" legs call the operator with
no profile, so since round 5 they run the SAFE default (max_bucket=1024,
oversize='join'): the hot keys stream through the bounded-memory
self-join and still emit their quadratic pairs. The guarded legs run
the SCALE posture (max_bucket=1024, oversize='drop'; simhash also
simhash_drop_zero). Pass = guarded legs complete flat (skew ratio near
1 on the pair stages, pile contributes nothing) while the "unguarded"
legs show the quadratic hot keys in both records_max and wall time.

    python bench/hot_bucket.py --cores 32 --workdir /tmp/kgforge_hotbucket
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GEN = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from kgforge.session import get_spark

spark = get_spark(app_name="hotbucket-gen", master="local[{cores}]",
                  shuffle_partitions=32,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
# documents: 30 pseudo-random words from a 5000-word vocab per doc
words = [F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(i)), F.lit(5000)))
         for i in range(30)]
docs = spark.range({n_docs}).select(
    F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text"))
pile = spark.range({n_doc_pile}).select(
    (F.col("id") + 10_000_000).alias("doc_id"), F.lit("").alias("text"))
docs.unionByName(pile).write.mode("overwrite").parquet({work!r} + "/docs")

# vectors: 64 dims in [-1, 1); the pile is one constant vector
dims = [(F.pmod(F.xxhash64("id", F.lit(i)), F.lit(2000)).cast("double")
         / F.lit(1000.0) - F.lit(1.0)) for i in range(64)]
vecs = spark.range({n_vecs}).select(
    F.col("id").alias("vec_id"), F.array(*dims).alias("embedding"))
vpile = spark.range({n_vec_pile}).select(
    (F.col("id") + 10_000_000).alias("vec_id"),
    F.array(*[F.lit(0.5)] * 64).alias("embedding"))
vecs.unionByName(vpile).write.mode("overwrite").parquet({work!r} + "/vecs")
print("GEN_OK")
spark.stop()
"""

_LEG = """
import sys, time
sys.path.insert(0, {repo!r})
from kgforge.session import get_spark
from kgforge.profile import ScaleProfile
from kgforge.textops.dedup import simhash_near_dups
from kgforge.textops.similarity import embedding_near_dups

spark = get_spark(app_name="hotbucket-{name}", master="local[{cores}]",
                  shuffle_partitions=32,
                  extra_conf={{"spark.ui.showConsoleProgress": "false",
                              "spark.eventLog.enabled": "true",
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.dir": {elog!r}}})
t0 = time.perf_counter()
{body}
print("LEG_SEC", round(time.perf_counter() - t0, 1), "PAIRS", n)
spark.stop()
"""

_BODIES = {
    "sim_unguarded": """
df = spark.read.parquet({work!r} + "/docs")
n = simhash_near_dups(df).count()
""",
    "sim_guarded": """
df = spark.read.parquet({work!r} + "/docs")
p = ScaleProfile(max_bucket=1024, oversize="drop", simhash_drop_zero=True)
n = simhash_near_dups(df, profile=p).count()
""",
    "emb_unguarded": """
df = spark.read.parquet({work!r} + "/vecs")
n = embedding_near_dups(df, threshold=0.999).count()
""",
    "emb_guarded": """
df = spark.read.parquet({work!r} + "/vecs")
p = ScaleProfile(max_bucket=1024, oversize="drop")
n = embedding_near_dups(df, threshold=0.999, profile=p).count()
""",
}


def _run(script: str, tag: str) -> tuple[float, str]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=REPO
    )
    wall = round(time.perf_counter() - t0, 1)
    out = "\n".join(
        ln for ln in (proc.stdout + proc.stderr).splitlines()
        if ln.startswith(("GEN_OK", "LEG_SEC", "Traceback")) or "Error" in ln
    )
    print(f"[{tag}] rc={proc.returncode} {wall}s :: {out[:300]}")
    if proc.returncode != 0:
        print(proc.stderr[-3000:])
        raise SystemExit(1)
    return wall, proc.stdout


def _only_eventlog(d: str) -> str:
    files = [f for f in os.listdir(d) if not f.startswith(".")]
    assert len(files) == 1, files
    return os.path.join(d, files[0])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--n-docs", type=int, default=100_000)
    ap.add_argument("--n-doc-pile", type=int, default=10_000)
    ap.add_argument("--n-vecs", type=int, default=100_000)
    ap.add_argument("--n-vec-pile", type=int, default=5_000)
    ap.add_argument("--workdir", default="/tmp/kgforge_hotbucket")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--skip-unguarded", action="store_true")
    args = ap.parse_args()

    os.makedirs(args.workdir, exist_ok=True)
    if not args.skip_gen:
        _run(
            _GEN.format(
                repo=REPO, cores=args.cores, work=args.workdir,
                n_docs=args.n_docs, n_doc_pile=args.n_doc_pile,
                n_vecs=args.n_vecs, n_vec_pile=args.n_vec_pile,
            ),
            "gen",
        )

    sys.path.insert(0, os.path.join(REPO, "bench"))
    from task_skew import stage_skew

    results: dict = {
        "cores": args.cores, "n_docs": args.n_docs,
        "n_doc_pile": args.n_doc_pile, "n_vecs": args.n_vecs,
        "n_vec_pile": args.n_vec_pile, "legs": {},
    }
    for name, body in _BODIES.items():
        if args.skip_unguarded and name.endswith("unguarded"):
            continue
        elog = f"{args.workdir}/elog_{name}"
        shutil.rmtree(elog, ignore_errors=True)
        os.makedirs(elog, exist_ok=True)
        wall, stdout = _run(
            _LEG.format(
                repo=REPO, cores=args.cores, name=name,
                elog="file://" + elog,
                body=body.format(work=args.workdir),
            ),
            name,
        )
        pairs = None
        for ln in stdout.splitlines():
            if ln.startswith("LEG_SEC"):
                pairs = int(ln.split("PAIRS")[1])
        stages = sorted(
            stage_skew(_only_eventlog(elog)),
            key=lambda s: -(s["ms_max"] or 0),
        )[:4]
        results["legs"][name] = {"wall_sec": wall, "pairs": pairs, "stages": stages}
        print(f"== {name}: wall={wall}s pairs={pairs}; slowest stages ==")
        for s in stages:
            print(
                f"  [{s['stage_id']:>3}] tasks={s['n_tasks']:>3} "
                f"rec med/max={s['records_median']:.0f}/{s['records_max']} "
                f"wrec med/max={s['wrecords_median']:.0f}/{s['wrecords_max']} "
                f"ms med/max={s['ms_median']:.0f}/{s['ms_max']} "
                f"(ratio {s['ms_ratio']})"
            )

    with open(f"{args.workdir}/hot_bucket_results.json", "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {args.workdir}/hot_bucket_results.json")


if __name__ == "__main__":
    main()
