"""Per-stage profiler for entry queries (no Spark UI in the sandbox).

Runs each named query once warm + once timed with the event log on,
and prints the timed run's layer split — driver build (the query
function: plan construction plus any eager jobs it fires) and
execution (the sink), each with its wall time and Spark job count
read from the status tracker — then its py4j round trips (driver→JVM
calls and object releases: the cost of building a plan through the
Column API, one or two per node) and its Janino compiles (count and
milliseconds): a plan whose generated classes outgrow Spark's codegen
cache recompiles on every warm run. It then reads the log through
`bench/task_skew.py` into a per-stage table: wall, summed task CPU /
run time, task count, shuffle bytes/records in and out, and the RDD
scope names (Exchange / Window / Generate / ArrowEvalPython ...) that
map the stage back to plan operators — the empirical tuning loop
driven from the event log instead of the UI. This is the instrument
behind the round-7 Part III stage numbers (e.g. the 62.5 s-CPU ngram
verify stage, the 3x window+aggregate re-executions, the 2-task melt
scan).

    SPARK_GRAFT_SF_DIR=/tmp/sf1.0 python tools/profile_stages.py \
        [--sink count|noop] dedup_ngram_jaccard dedup_minhash

`--sink count` (the default) ends each query in `.count()` as
`bench.py` does, which lets Catalyst prune columns no count needs;
`--sink noop` writes every column to Spark's `noop` sink instead, so
work a count would prune away is measured too.

Not part of the driver contract; bench.py stays the frozen
measurement."""
from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "bench"))


def _compiled(spark) -> tuple[int, float]:
    """(Janino compiles, compile ms) so far in this JVM."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, ns / 1e6


def _py4j_counter(spark) -> dict:
    """Count every py4j round trip from here on: wraps the gateway
    client's send_command, which both calls and releases go through."""
    client = spark.sparkContext._gateway._gateway_client
    sent = {"n": 0}
    send = client.send_command

    def counted(*args, **kwargs):
        sent["n"] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    return sent


def _sink(kind: str):
    if kind == "noop":
        return lambda df: df.write.format("noop").mode("overwrite").save()
    return lambda df: df.count()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=["dedup_ngram_jaccard"])
    ap.add_argument("--sink", choices=("count", "noop"), default="count")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    qnames = args.queries
    sink = _sink(args.sink)
    logdir = "/tmp/sparkevents_profile"
    os.makedirs(logdir, exist_ok=True)

    import __spark_entry__ as entry
    from kgforge.session import get_spark

    spark = get_spark(
        app_name="kgforge-profile-stages",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 4),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "1m",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    py4j = _py4j_counter(spark)
    sc = spark.sparkContext
    qs = entry.queries()
    # warm
    sink(next(iter(qs.values()))(spark, sf_dir))
    for qn in qnames:
        sc.setJobGroup(f"warm:{qn}", f"warm:{qn}")
        sink(qs[qn](spark, sf_dir))
    marks = {}
    for qn in qnames:
        n0, ms0 = _compiled(spark)
        calls0 = py4j["n"]
        t0 = time.perf_counter()
        # one job group per layer; both carry the query's name as the
        # job description the stage table below filters on
        sc.setJobGroup(f"{qn}:build", qn)
        df = qs[qn](spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{qn}:exec", qn)
        sink(df)
        marks[qn] = time.perf_counter() - t0
        calls = py4j["n"] - calls0
        n1, ms1 = _compiled(spark)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        build, run = (
            len(sc.statusTracker().getJobIdsForGroup(f"{qn}:{layer}"))
            for layer in ("build", "exec")
        )
        print(
            f"{qn}: {marks[qn]:.3f}  build {t1 - t0:.3f} s {build} jobs"
            f"  exec {marks[qn] - (t1 - t0):.3f} s {run} jobs"
            f"  py4j {calls}  compiles {n1 - n0} ({ms1 - ms0:.0f} ms)",
            flush=True,
        )
    app_id = spark.sparkContext.applicationId
    spark.stop()

    from task_skew import stage_skew

    # Spark 4 rolling layout: eventlog_v2_<app>/events_*
    path = os.path.join(logdir, app_id)
    if not os.path.exists(path):
        path = os.path.join(logdir, f"eventlog_v2_{app_id}")
    stages = stage_skew(path)

    for qn in qnames:
        print(f"\n=== {qn} (wall {marks[qn]:.3f}s) — timed (non-warm) stages ===")
        rows = [s for s in stages if s["description"] == qn]
        tot = sum(s["wall_s"] or 0 for s in rows)
        print(f"{'sid':>4} {'wall':>7} {'cpu':>8} {'run':>8} {'tasks':>5} "
              f"{'sw_MB':>8} {'sw_rec':>10} {'sr_MB':>8} {'sr_rec':>10}  name")
        for s in rows:
            print(
                f"{s['stage_id']:>4} {s['wall_s'] or 0:>7.2f} {s['cpu_s']:>8.2f} "
                f"{s['run_s']:>8.2f} {s['n_tasks']:>5} {s['sw_bytes'] / 1e6:>8.1f} "
                f"{s['sw_records']:>10.0f} {s['sr_bytes'] / 1e6:>8.1f} "
                f"{s['sr_records']:>10.0f}  {s['scopes'][:110]}"
            )
        print(f"sum stage wall = {tot:.2f}s over {len(rows)} stages")


if __name__ == "__main__":
    main()
