"""Spans around calls into kgforge's layers, with Spark counters per span.

Each span runs under its own Spark job group, so the jobs it fires (and
their stages' task CPU, shuffle writes and input bytes) can be read
back from Spark's status store once the run ends. Spans live in memory
as {name, start, end, parent, op_id} until `layer_metrics` folds them.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class NoTrace:
    """Stand-in used by the measured (untraced) runs."""

    enabled = False

    def span(self, name, rows=None):
        return nullcontext()

    def count(self, name, value):
        pass


class Tracer(NoTrace):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.open: list[dict] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self.op_id = 0

    @contextmanager
    def op(self, op_id: int):
        self.op_id = op_id
        with self.span("op"):
            yield

    @contextmanager
    def span(self, name, rows=None):
        """`rows`, when given, is a callable run after the body; its
        value is the span's rows_out."""
        parent = self.open[-1] if self.open else None
        rec = {"name": name, "parent": parent and parent["name"], "op_id": self.op_id,
               "group": f"kgbench.{self.op_id}.{name}", "end": None, "rows_out": None}
        self.spans.append(rec)
        self.open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"], cpu0 = time.perf_counter(), time.process_time()
        try:
            yield rec
            if rows is not None:
                rec["rows_out"] = rows()
        finally:
            rec["end"], rec["py_cpu_s"] = time.perf_counter(), time.process_time() - cpu0
            self.open.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name, value):
        self.counters[name].append(float(value))

    # -------------------------------------------------------------- readout
    def _group_stats(self) -> dict[str, dict[str, float]]:
        """{job group: {jobs, task_cpu_ms, shuffle_write_mb, input_mb}}."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        per_stage = defaultdict(lambda: [0.0, 0.0, 0.0])
        for i in range(stages.size()):
            s = stages.apply(i)
            acc = per_stage[s.stageId()]
            acc[0] += s.executorCpuTime() / 1e6
            acc[1] += s.shuffleWriteBytes() / 1e6
            acc[2] += s.inputBytes() / 1e6
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"jobs": 0, "task_cpu_ms": 0.0, "shuffle_write_mb": 0.0, "input_mb": 0.0}
        )
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            if group.isEmpty():
                continue
            g = out[group.get()]
            g["jobs"] += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                cpu, shw, inp = per_stage.get(sids.apply(k), (0.0, 0.0, 0.0))
                g["task_cpu_ms"] += cpu
                g["shuffle_write_mb"] += shw
                g["input_mb"] += inp
        return out

    def layer_metrics(self, layers: list[str]) -> dict[str, float]:
        """Median over traced ops of every field of every named layer
        (0 for a layer this workload never entered), plus the medians
        of the extra counters."""
        groups = self._group_stats()
        per_layer: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        for rec in self.spans:
            if rec["end"] is None or rec["name"] == "op":
                continue
            g = groups.get(rec["group"], {})
            fields = {
                "wall_ms": (rec["end"] - rec["start"]) * 1e3,
                "py_cpu_ms": rec["py_cpu_s"] * 1e3,
                "task_cpu_ms": g.get("task_cpu_ms", 0.0),
                "jobs": g.get("jobs", 0),
                "shuffle_write_mb": g.get("shuffle_write_mb", 0.0),
                "rows_out": rec["rows_out"] or 0,
                "input_mb": g.get("input_mb", 0.0),
            }
            for k, v in fields.items():
                per_layer[rec["name"]][k].append(v)
        out = {}
        for layer in layers:
            fields = per_layer.get(layer, {})
            for k in ("wall_ms", "py_cpu_ms", "task_cpu_ms", "jobs", "shuffle_write_mb", "rows_out"):
                out[f"{layer}.{k}"] = statistics.median(fields[k]) if k in fields else 0.0
            if layer == "sparql.exec":
                out["sparql.exec.input_mb"] = statistics.median(fields["input_mb"]) if fields else 0.0
        for name, values in self.counters.items():
            out[name] = statistics.median(values)
        return out
