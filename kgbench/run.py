"""kgforge benchmark: one workload per run, warm ops only, pinned heap.

    python3 kgbench/run.py --workload web_build --seed 1 --seconds 12 --trace 0

Run from the root of a kgforge checkout. The run starts one Spark
session on local[2] with a fixed-size, pre-touched driver heap, builds
the workload's inputs from the seed, warms up, then times ops for
`--seconds` seconds, checking every op's output against an oracle.
The last stdout line is the result JSON; the line before it records
the run's details and host noise. `--trace 1` times traced ops instead
and reports per-layer metrics. `--smoke` shrinks every input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
MASTER = "local[2]"
HEAP = "1g"  # spark.driver.memory, and -Xms: the heap is committed and touched at start

#: input sizes per workload; SMOKE is the tiny variant for --smoke
WEB = {"pages": 10000, "hub_frac": 0.05, "rows_per_file": 1250, "buckets": 8}
CSV = {"rows": 10000, "tiny_rows": 25, "buckets": 8}
SIZES = {
    "web_build": WEB,
    "csv_map": CSV,
    "sparql_query": {"web": WEB, "csv": CSV, "queries": 600},
    "doc_dedup": {"docs": 400},
}
WEB_SMOKE = {"pages": 200, "hub_frac": 0.05, "rows_per_file": 50, "buckets": 4}
CSV_SMOKE = {"rows": 100, "tiny_rows": 10, "buckets": 4}
SMOKE = {
    "web_build": WEB_SMOKE,
    "csv_map": CSV_SMOKE,
    "sparql_query": {"web": WEB_SMOKE, "csv": CSV_SMOKE, "queries": 30},
    "doc_dedup": {"docs": 80},
}
#: warm-up ops before timing: the cold first op, then warm ones (two full
#: blocks of the query mix for sparql_query). A fresh JVM is still
#: compiling hot code for several ops after the cold one, so timed ops
#: start past the steep part of that curve (see WORKLOADS.md)
WARMUP = {"web_build": 2, "csv_map": 3, "sparql_query": 26, "doc_dedup": 3}
#: fewest ops a run times, whatever --seconds says: untraced ones in a
#: measured run, traced ones in a traced run (which times at least 2
#: untraced ones besides, for the tracing overhead)
MIN_OPS = 3
#: a traced run of the key's workload also traces the value's ops (a
#: workload not in BENCHMARK.json), after its own, so every layer is
#: measured: one warm-up op, then traced and untraced ops alternating
COMPANION = {"web_build": "doc_dedup", "sparql_query": "csv_map"}
COMPANION_OP0 = 1_000_000  # op ids of companion ops start here

END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "items_per_s": "items/s",
    "items_per_cpu_s": "items/cpu-s", "peak_rss_mb": "MB",
    "output_precision": "ratio", "output_recall": "ratio",
}
LAYERS = [
    "web.extract", "web.mentions", "web.linking", "web.canon", "orchestrate.run_config",
    "triples.emit", "lineage.materialize", "sparql.build", "sparql.exec",
    "textops.minhash", "textops.simhash", "textops.ngram",
]
FIELD_UNITS = {"wall_ms": "ms", "py_cpu_ms": "ms", "task_cpu_ms": "ms", "jobs": "count",
               "shuffle_write_mb": "MB", "rows_out": "rows"}
EXTRA_UNITS = {
    "web.linking.candidate_pairs": "pairs", "web.linking.kept_ratio": "ratio",
    "lineage.materialize.bytes_written_mb": "MB", "lineage.materialize.files_written": "files",
    "lineage.bytes_per_triple": "B/triple", "sparql.exec.input_mb": "MB",
    **{f"sparql.{c}.p50_ms": "ms" for c in
       ("point", "join", "optional", "aggregate", "path", "ask", "describe")},
    **{f"textops.{t}.{k}": u for t in ("minhash", "simhash", "ngram")
       for k, u in (("candidates", "pairs"), ("useful_ratio", "ratio"))},
    "session.start_s": "s", "session.warmup_s": "s",
    **{f"trace.{w}.overhead_ms": "ms" for w in ("web_build", "csv_map", "sparql_query", "doc_dedup")},
}
PER_LAYER = {f"{layer}.{k}": u for layer in LAYERS for k, u in FIELD_UNITS.items()} | EXTRA_UNITS


def _checkout() -> None:
    """Refuse to run outside a kgforge checkout (the benchmark measures
    the checkout's own source, never an installed copy)."""
    for need in ("kgforge/__init__.py", "tests/oracle.py", "tests/gen_fixtures.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            sys.exit(f"kgbench: {need} not found under {ROOT}; run from a kgforge checkout")
    sys.path.insert(0, ROOT)


def _session(work: str, trace: bool):
    os.environ["KGFORGE_DRIVER_MEM"] = HEAP
    from kgforge.session import get_spark

    # A serial collector: under G1, host CPU steal inflated CPU per op
    # too, most likely G1's parallel GC workers spinning while they wait
    # for a peer whose vCPU the host descheduled (see WORKLOADS.md).
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseSerialGC -Djava.io.tmpdir={work}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:  # keep every job and stage of the run for the readout
        conf |= {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    spark = get_spark(app_name="kgbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class _RssSampler(threading.Thread):
    def __init__(self, procs, period: float = 0.25):
        super().__init__(daemon=True)
        self.procs, self.period = procs, period
        self.peak, self.peak_procs = 0.0, 0
        self.sample()
        self.halt = threading.Event()

    def sample(self) -> None:
        mb, n = self.procs.tree_rss()
        if mb > self.peak:
            self.peak, self.peak_procs = mb, n

    def run(self) -> None:
        while not self.halt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self.halt.set()
        self.join()
        self.sample()
        return self.peak


def _quantile(values, q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (smoke test)")
    args = ap.parse_args(argv)

    _checkout()
    from kgbench import procs
    from kgbench.trace import NoTrace, Tracer
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    host0 = (procs.steal_ticks(), procs.loadavg(), procs.cpu_ticks())
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    import tempfile

    tempfile.tempdir = work
    spark = None
    try:
        spark = _session(work, bool(args.trace))
        session_s = procs.process_age_s()
        sizes = SMOKE if args.smoke else SIZES
        wl = WORKLOADS[args.workload](spark, args.seed, sizes[args.workload], work)
        wl.setup()
        tracer = Tracer(spark) if args.trace else None

        failed = attempted = 0  # over every op, warm-up included
        scores: list[tuple[int, int, int]] = []  # (correct, produced, expected) per timed op of wl
        cpu_s: list[float] = []

        def run_op(w, i: int, tracer, timed: bool) -> float:
            """Run op i of workload w and check it; return its wall seconds.
            An op that raises or answers wrong counts as failed."""
            nonlocal failed, attempted
            cpu0, t0 = procs.tree_cpu_s(), time.perf_counter()
            try:
                out = w.op(i, tracer)
            except Exception:  # the run goes on
                traceback.print_exc()
                wall, ok = time.perf_counter() - t0, False
            else:
                wall, cpu = time.perf_counter() - t0, procs.tree_cpu_s() - cpu0
                if tracer.enabled:
                    w.after(out, tracer)
                score = w.check(out)
                ok = w.acceptable(*score)
                if timed and w is wl:
                    scores.append(score)
                    cpu_s.append(cpu)
            attempted += 1
            failed += not ok
            shutil.rmtree(w.out_path(i), ignore_errors=True)
            return wall

        def timed_ops(w, i: int, t_end: float) -> tuple[list[float], list[float]]:
            """Time ops of w from op i on until t_end and MIN_OPS are
            done; a traced run alternates traced and untraced ops,
            traced first. Returns (untraced walls, traced walls)."""
            walls, traced = [], []
            while (time.perf_counter() < t_end
                   or len(walls) < (MIN_OPS if tracer is None else 2)
                   or (tracer is not None and len(traced) < MIN_OPS)):
                if tracer is not None and len(traced) <= len(walls):
                    with tracer.op(i):
                        traced.append(run_op(w, i, tracer, timed=True))
                else:
                    walls.append(run_op(w, i, NoTrace(), timed=True))
                i += 1
            return walls, traced

        t_warm = time.perf_counter()
        for i in range(WARMUP[args.workload]):
            run_op(wl, i, NoTrace(), timed=False)
        warmup_s = time.perf_counter() - t_warm
        setup_s = procs.process_age_s()

        sampler = _RssSampler(procs)
        sampler.start()
        walls, traced_walls = timed_ops(wl, WARMUP[args.workload], time.perf_counter() + args.seconds)
        peak_rss = sampler.stop()
        overhead_ms = {}
        if tracer is not None:
            overhead_ms[args.workload] = (statistics.median(traced_walls) - statistics.median(walls)) * 1e3
            if args.workload in COMPANION:
                name = COMPANION[args.workload]
                comp = WORKLOADS[name](spark, args.seed, sizes[name], os.path.join(work, name))
                comp.setup()
                run_op(comp, COMPANION_OP0, NoTrace(), timed=False)
                u, t = timed_ops(comp, COMPANION_OP0 + 1, 0.0)
                overhead_ms[name] = (statistics.median(t) - statistics.median(u)) * 1e3
        host1 = (procs.steal_ticks(), procs.loadavg(), procs.cpu_ticks())

        good, made, want = (sum(col) for col in zip(*scores)) if scores else (0, 0, 0)
        nbytes = sum(b for b, _ in wl.written)
        rows = sum(r for _, r in wl.written)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": MASTER, "heap": HEAP, "items_per_op": wl.items_per_op,
            "warmup_ops": WARMUP[args.workload], "timed_ops": len(walls), "traced_ops": len(traced_walls),
            "op_ms": [round(w * 1e3, 1) for w in walls],
            "peak_rss_procs": sampler.peak_procs,
            "samples_beyond_p90": sum(w > _quantile(walls, 0.9) for w in walls),
            "op_error_rate": failed / attempted,
            "bytes_per_triple": nbytes / rows if rows else None,
            "companion": COMPANION.get(args.workload) if tracer is not None else None,
            "host": {
                "steal_ticks": host1[0] - host0[0],
                "steal_share": (host1[0] - host0[0]) / max(host1[2] - host0[2], 1),
                "loadavg_start": host0[1], "loadavg_end": host1[1],
            },
        }
        if tracer is None:
            values = {
                "setup_s": setup_s,
                "op_p50_ms": statistics.median(walls) * 1e3,
                "op_p90_ms": _quantile(walls, 0.9) * 1e3,
                "items_per_s": wl.items_per_op * len(walls) / sum(walls),
                "items_per_cpu_s": wl.items_per_op * len(cpu_s) / sum(cpu_s),
                "peak_rss_mb": peak_rss,
                "output_precision": good / max(made, 1),
                "output_recall": good / max(want, 1),
            }
            units = END_TO_END
        else:
            values = dict.fromkeys(PER_LAYER, 0.0) | tracer.layer_metrics(LAYERS)
            values |= {f"trace.{name}.overhead_ms": ms for name, ms in overhead_ms.items()}
            values |= {"session.start_s": session_s, "session.warmup_s": warmup_s}
            unknown = set(values) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics {sorted(unknown)}")
            units = PER_LAYER
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
