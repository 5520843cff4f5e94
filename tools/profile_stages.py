"""Per-stage profiler for entry queries (no Spark UI in the sandbox).

Runs each named query once warm + once timed with the event log on,
and prints the timed run's layer split — driver build (the query
function: plan construction plus any eager jobs it fires) and
execution (`.count()`), each with its wall time and Spark job count
read from the status tracker — then its py4j round trips (driver→JVM
calls and object releases: the cost of building a plan through the
Column API, one or two per node) and its Janino compiles (count and
milliseconds): a plan whose generated classes outgrow Spark's codegen
cache recompiles on every warm run. It then parses the log into a
per-stage table:
wall, summed task CPU /
run time, task count, shuffle bytes/records in and out, and the RDD
scope names (Exchange / Window / Generate / ArrowEvalPython ...) that
map the stage back to plan operators — the guide §7.1 empirical loop
driven from the event log instead of the UI. This is the instrument
behind the round-7 Part III stage numbers (e.g. the 62.5 s-CPU ngram
verify stage, the 3x window+aggregate re-executions, the 2-task melt
scan).

    SPARK_GRAFT_SF_DIR=/tmp/sf1.0 python tools/profile_stages.py \
        dedup_ngram_jaccard dedup_minhash

Not part of the driver contract; bench.py stays the frozen
measurement."""
from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    qnames = sys.argv[1:] or ["dedup_ngram_jaccard"]
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
    next(iter(qs.values()))(spark, sf_dir).count()
    for qn in qnames:
        sc.setJobGroup(f"warm:{qn}", f"warm:{qn}")
        qs[qn](spark, sf_dir).count()
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
        df.count()
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

    # parse (Spark 4 rolling layout: eventlog_v2_<app>/events_*)
    path = os.path.join(logdir, app_id)
    if not os.path.exists(path):
        d = os.path.join(logdir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, p) for p in os.listdir(d) if p.startswith("events")
        )
    else:
        parts = [path]
    stages = {}
    stage_to_desc = {}
    job_desc = {}
    sql_by_stage = {}
    def lines():
        for p in parts:
            with open(p) as f:
                yield from f

    for line in lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                for sid in ev.get("Stage IDs", []):
                    stage_to_desc[sid] = desc
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si["Submission Time"]
                comp = si["Completion Time"]
                s = stages.setdefault(sid, defaultdict(float))
                scopes = []
                for ri in si.get("RDD Info", []):
                    sc = ri.get("Scope")
                    if sc:
                        try:
                            nm = json.loads(sc).get("name", "")
                        except Exception:
                            nm = ""
                        if nm and nm not in scopes:
                            scopes.append(nm)
                s["name"] = ",".join(scopes[:6])[:110]
                s["wall"] = (comp - sub) / 1000.0
                s["tasks"] = si["Number of Tasks"]
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                s = stages.setdefault(sid, defaultdict(float))
                s["cpu"] = s.get("cpu", 0) + tm.get("Executor CPU Time", 0) / 1e9
                s["runtime"] = s.get("runtime", 0) + tm.get("Executor Run Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                s["srb"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s["srr"] += sr.get("Total Records Read", 0)
                s["fetchwait"] = s.get("fetchwait", 0) + sr.get("Fetch Wait Time", 0) / 1e3
                s["swb"] += sw.get("Shuffle Bytes Written", 0)
                s["swr"] += sw.get("Shuffle Records Written", 0)

    for qn in qnames:
        print(f"\n=== {qn} (wall {marks[qn]:.3f}s) — timed (non-warm) stages ===")
        rows = [
            (sid, s) for sid, s in sorted(stages.items())
            if stage_to_desc.get(sid, "") == qn
        ]
        tot = sum(s["wall"] for _, s in rows)
        print(f"{'sid':>4} {'wall':>7} {'cpu':>8} {'run':>8} {'tasks':>5} "
              f"{'sw_MB':>8} {'sw_rec':>10} {'sr_MB':>8} {'sr_rec':>10}  name")
        for sid, s in rows:
            print(
                f"{sid:>4} {s['wall']:>7.2f} {s['cpu']:>8.2f} {s['runtime']:>8.2f} "
                f"{s['tasks']:>5} {s['swb']/1e6:>8.1f} {s['swr']:>10} "
                f"{s['srb']/1e6:>8.1f} {s['srr']:>10}  {s['name']}"
            )
        print(f"sum stage wall = {tot:.2f}s over {len(rows)} stages")


if __name__ == "__main__":
    main()
